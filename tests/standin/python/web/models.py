"""Tables of the people service."""

from sqlalchemy import Column, Integer, String
from sqlalchemy.orm import declarative_base

Base = declarative_base()


class Person(Base):
    __tablename__ = "people"

    id = Column(Integer, primary_key=True)
    name = Column(String(80), nullable=False)
    email = Column(String(120), unique=True)

    def to_dict(self):
        return {"id": self.id, "name": self.name, "email": self.email}

    def display_name(self):
        return self.name.title()


class Address(Base):
    __tablename__ = "addresses"

    id = Column(Integer, primary_key=True)
    person_id = Column(Integer)
    city = Column(String(80))

    def to_dict(self):
        return {"id": self.id, "person_id": self.person_id, "city": self.city}
