"""Unit and integration checks of the people service."""

import requests

from models import Person
from utils import is_valid_email, normalize_email, paginate


def test_normalize_email():
    assert normalize_email("  Ada@Example.COM ") == "ada@example.com"


def test_is_valid_email():
    assert is_valid_email("ada@example.com")
    assert not is_valid_email("not-an-email")


def test_paginate():
    assert paginate(3, 20) == (40, 20)


def test_person_to_dict():
    person = Person(id=1, name="ada", email="ada@example.com")
    assert person.to_dict()["name"] == "ada"


def test_get_person_route():
    response = requests.get("http://localhost:5000/person/1")
    assert response.status_code in (200, 404)
