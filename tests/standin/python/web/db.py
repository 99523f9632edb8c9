"""Database engine and the db session scope."""

from contextlib import contextmanager

from sqlalchemy import create_engine
from sqlalchemy.orm import sessionmaker

from config import database_url

engine = create_engine(database_url())
SessionLocal = sessionmaker(bind=engine, autoflush=False)


@contextmanager
def db_session():
    session = SessionLocal()
    try:
        yield session
        session.commit()
    except Exception:
        session.rollback()
        raise
    finally:
        session.close()


def init_db(base):
    base.metadata.create_all(bind=engine)


class SessionCounter:
    """Counts the sessions a request opens."""

    def __init__(self):
        self.opened = 0

    def open(self):
        self.opened += 1
        return SessionLocal()

    def reset(self):
        self.opened = 0
