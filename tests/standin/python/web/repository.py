"""Reads and writes of Person rows."""

from db import db_session
from models import Person


class PersonRepository:
    """Person queries over one db session."""

    def __init__(self, session):
        self.session = session

    def get(self, person_id):
        return self.session.get(Person, person_id)

    def find_by_email(self, email):
        query = self.session.query(Person)
        return query.filter(Person.email == email).first()

    def add(self, name, email):
        person = Person(name=name, email=email)
        self.session.add(person)
        self.session.flush()
        return person

    def list_page(self, offset, limit):
        query = self.session.query(Person).order_by(Person.id)
        return query.offset(offset).limit(limit).all()

    def delete(self, person_id):
        person = self.get(person_id)
        if person is not None:
            self.session.delete(person)
        return person


def with_repository(action):
    with db_session() as session:
        return action(PersonRepository(session))
