"""Command line entry point of the people tool."""

import argparse
import sys

from commands import export_people, import_people
from formatting import format_table


def build_parser():
    parser = argparse.ArgumentParser(prog="people")
    sub = parser.add_subparsers(dest="command", required=True)
    exp = sub.add_parser("export")
    exp.add_argument("--format", default="table")
    imp = sub.add_parser("import")
    imp.add_argument("path")
    return parser


def main(argv=None):
    args = build_parser().parse_args(argv)
    if args.command == "export":
        rows = export_people()
        print(format_table(rows) if args.format == "table" else rows)
        return 0
    return import_people(args.path)


if __name__ == "__main__":
    sys.exit(main())
