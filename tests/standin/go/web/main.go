package main

import (
	"encoding/json"
	"log"
	"net/http"

	"github.com/gorilla/mux"
)

// NewRouter wires the person routes onto a router.
func NewRouter(store *PersonStore) *mux.Router {
	r := mux.NewRouter()
	r.HandleFunc("/person/{id}", GetPersonHandler(store)).Methods("GET")
	r.HandleFunc("/person", CreatePersonHandler(store)).Methods("POST")
	return r
}

func writeJSON(w http.ResponseWriter, status int, v interface{}) {
	w.Header().Set("Content-Type", "application/json")
	w.WriteHeader(status)
	json.NewEncoder(w).Encode(v)
}

func main() {
	store := NewPersonStore()
	log.Fatal(http.ListenAndServe(":8080", NewRouter(store)))
}
