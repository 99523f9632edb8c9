"""Plain-text rendering of people rows."""

COLUMNS = ("name", "email")


def column_widths(rows):
    return {c: max([len(c)] + [len(str(r.get(c, ""))) for r in rows]) for c in COLUMNS}


def format_row(row, widths):
    return "  ".join(str(row.get(c, "")).ljust(widths[c]) for c in COLUMNS)


def format_table(rows):
    widths = column_widths(rows)
    header = format_row({c: c for c in COLUMNS}, widths)
    return "\n".join([header] + [format_row(r, widths) for r in rows])
