"""HTTP routes of the people service."""

from flask import Flask, jsonify, request

from config import page_size
from repository import with_repository
from services import lookup_directory, notify_created
from utils import is_valid_email, paginate

app = Flask(__name__)


@app.route("/person/<int:person_id>", methods=["GET"])
def get_person(person_id):
    person = with_repository(lambda repo: repo.get(person_id))
    if person is None:
        return jsonify({"error": "not found"}), 404
    return jsonify(person.to_dict())


@app.route("/person", methods=["POST"])
def create_person():
    data = request.get_json()
    if not is_valid_email(data.get("email", "")):
        return jsonify({"error": "invalid email"}), 400
    person = with_repository(lambda repo: repo.add(data["name"], data["email"]))
    notify_created(person)
    return jsonify(person.to_dict()), 201


@app.get("/people")
def list_people():
    offset, limit = paginate(request.args.get("page", 1), page_size(request.args.get("size")))
    people = with_repository(lambda repo: repo.list_page(offset, limit))
    return jsonify([p.to_dict() for p in people])


@app.delete("/person/<int:person_id>")
def delete_person(person_id):
    person = with_repository(lambda repo: repo.delete(person_id))
    return ("", 204) if person is not None else ("", 404)


@app.route("/person/lookup")
def lookup_person():
    found = lookup_directory(request.args.get("email", ""))
    return jsonify(found or {})
