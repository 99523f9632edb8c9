package main

import "testing"

func TestValidateName(t *testing.T) {
	if err := ValidateName(""); err == nil {
		t.Fatal("blank name accepted")
	}
	if err := ValidateName("Ada"); err != nil {
		t.Fatalf("valid name rejected: %v", err)
	}
}

func TestStoreAddGet(t *testing.T) {
	s := NewPersonStore()
	if err := s.Add(Person{ID: "1", Name: "Ada"}); err != nil {
		t.Fatal(err)
	}
	if _, ok := s.Get("1"); !ok {
		t.Fatal("added person not found")
	}
}
