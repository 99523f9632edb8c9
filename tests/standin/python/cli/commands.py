"""Subcommands of the people tool."""

import csv
import json

DEFAULT_STORE = "people.json"


class PeopleStore:
    """People rows kept in one JSON file."""

    def __init__(self, path=DEFAULT_STORE):
        self.path = path

    def load(self):
        try:
            with open(self.path) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def save(self, rows):
        with open(self.path, "w") as f:
            json.dump(rows, f, indent=2)


def export_people(store=None):
    return (store or PeopleStore()).load()


def import_people(path, store=None):
    store = store or PeopleStore()
    with open(path, newline="") as f:
        rows = list(csv.DictReader(f))
    store.save(store.load() + rows)
    return 0
