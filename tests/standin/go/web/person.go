package main

import (
	"encoding/json"
	"errors"
	"net/http"
	"strings"
	"sync"

	"github.com/gorilla/mux"
)

// Person is one entry of the people store.
type Person struct {
	ID    string `json:"id"`
	Name  string `json:"name"`
	Email string `json:"email"`
}

// PersonStore keeps people in memory behind a lock.
type PersonStore struct {
	mu     sync.Mutex
	people map[string]Person
}

var ErrInvalidName = errors.New("invalid name")

// NewPersonStore returns an empty store.
func NewPersonStore() *PersonStore {
	return &PersonStore{people: make(map[string]Person)}
}

// ValidateName rejects blank names.
func ValidateName(name string) error {
	if strings.TrimSpace(name) == "" {
		return ErrInvalidName
	}
	return nil
}

func (s *PersonStore) Get(id string) (Person, bool) {
	s.mu.Lock()
	defer s.mu.Unlock()
	p, ok := s.people[id]
	return p, ok
}

func (s *PersonStore) Add(p Person) error {
	if err := ValidateName(p.Name); err != nil {
		return err
	}
	s.mu.Lock()
	defer s.mu.Unlock()
	s.people[p.ID] = p
	return nil
}

func GetPersonHandler(store *PersonStore) http.HandlerFunc {
	return func(w http.ResponseWriter, r *http.Request) {
		p, ok := store.Get(mux.Vars(r)["id"])
		if !ok {
			writeJSON(w, http.StatusNotFound, map[string]string{"error": "not found"})
			return
		}
		writeJSON(w, http.StatusOK, p)
	}
}

func CreatePersonHandler(store *PersonStore) http.HandlerFunc {
	return func(w http.ResponseWriter, r *http.Request) {
		var p Person
		if err := json.NewDecoder(r.Body).Decode(&p); err != nil {
			writeJSON(w, http.StatusBadRequest, map[string]string{"error": err.Error()})
			return
		}
		if err := store.Add(p); err != nil {
			writeJSON(w, http.StatusBadRequest, map[string]string{"error": err.Error()})
			return
		}
		writeJSON(w, http.StatusCreated, p)
	}
}
