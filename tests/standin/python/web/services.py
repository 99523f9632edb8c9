"""Calls to the services around the people service."""

import requests

from config import DIRECTORY_URL
from utils import normalize_email


def notify_created(person):
    payload = {"event": "person.created", "person": person.to_dict()}
    return requests.post("https://hooks.example.com/people", json=payload, timeout=5).status_code


def lookup_directory(email):
    response = requests.get(DIRECTORY_URL, params={"email": normalize_email(email)}, timeout=5)
    if response.status_code != 200:
        return None
    return response.json()
