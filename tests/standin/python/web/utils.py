"""Small helpers of the routes."""

import re

EMAIL_RE = re.compile(r"^[^@\s]+@[^@\s]+\.[a-z]+$")


def normalize_email(email):
    return email.strip().lower()


def is_valid_email(email):
    return bool(EMAIL_RE.match(normalize_email(email)))


def paginate(page, size):
    page = max(1, int(page))
    return (page - 1) * size, size
