"""Settings of the people service, read once at import."""

import os

DATABASE_URL = os.environ.get("DATABASE_URL", "sqlite:///people.db")
DIRECTORY_URL = "https://directory.example.com/lookup"
PAGE_SIZE = 20


def database_url():
    return DATABASE_URL


def page_size(requested=None):
    if requested is None:
        return PAGE_SIZE
    return max(1, min(int(requested), 100))
