"""Safety gate for dynamic numeric expressions.

Port of intent of ``numeric_sql_expression_is_safe`` (reference
inst/patches/patch_55.R:582-700): a whitelist grammar over numeric
literals, arithmetic operators, a fixed function set, and declared
identifiers; any DML/DDL keyword or unknown token rejects the
expression. Catalyst then parses the expression (``F.expr``); this gate
only guarantees it cannot reference other columns, subqueries, or
side-effecting SQL.
"""

from __future__ import annotations

import re

SAFE_FUNCTIONS = {
    "abs", "case", "when", "then", "else", "end", "coalesce", "nullif",
    "least", "greatest", "ln", "log", "log10", "exp", "power", "pow",
    "round", "sqrt", "sin", "cos", "tan", "floor", "ceil", "ceiling",
    "mod", "sign",
}

FORBIDDEN = {
    "select", "insert", "update", "delete", "drop", "alter", "create",
    "grant", "revoke", "truncate", "copy", "execute", "call", "union",
    "from", "where", "join", ";", "--", "/*",
}

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
      | (?P<caret>\^)
      | (?P<op>\+|-|\*|/|%|\(|\)|,|<=|>=|<>|!=|=|<|>)
    )""",
    re.VERBOSE,
)


class UnsafeExpressionError(ValueError):
    pass


def assert_safe_numeric_expression(expr: str, allowed_idents: tuple = ("value",)) -> None:
    if not expr or not expr.strip():
        raise UnsafeExpressionError("empty expression")
    lowered = expr.lower()
    for bad in FORBIDDEN:
        if re.search(rf"(?<![a-z_]){re.escape(bad)}(?![a-z_0-9])", lowered) if bad.isalpha() else (bad in lowered):
            raise UnsafeExpressionError(f"forbidden token {bad!r} in {expr!r}")
    pos = 0
    allowed = {i.lower() for i in allowed_idents}
    while pos < len(expr):
        m = _TOKEN.match(expr, pos)
        if not m:
            if expr[pos:].strip() == "":
                break
            raise UnsafeExpressionError(f"unparseable at {expr[pos:]!r}")
        if m.group("caret"):
            # In the reference's PostgreSQL '^' is exponentiation
            # (inst/patches/patch_55.R:582-700 whitelists it as power);
            # in Spark SQL it is bitwise XOR. Accepting it would make a
            # migrated drift equation silently compute garbage.
            raise UnsafeExpressionError(
                "'^' is XOR in Spark SQL, not exponentiation — "
                "rewrite the equation with power(base, exponent)"
            )
        if m.group("ident"):
            ident = m.group("ident").lower()
            if ident not in SAFE_FUNCTIONS and ident not in allowed:
                raise UnsafeExpressionError(f"identifier {ident!r} not allowed")
        pos = m.end()


def substitute_identifiers(expr: str, mapping: dict[str, str]) -> str:
    """Token-level identifier substitution for a *validated* expression.

    Replaces only whole identifier tokens (case-insensitive), never
    substrings — ``value2`` or a function name containing ``value`` can
    never be corrupted the way naive ``str.replace`` would."""
    out = []
    pos = 0
    low = {k.lower(): v for k, v in mapping.items()}
    while pos < len(expr):
        m = _TOKEN.match(expr, pos)
        if not m:
            out.append(expr[pos:])
            break
        ident = m.group("ident")
        if ident and ident.lower() in low:
            # keep leading whitespace the \s* consumed
            out.append(expr[pos:m.start("ident")])
            out.append(low[ident.lower()])
        else:
            out.append(expr[pos:m.end()])
        pos = m.end()
    return "".join(out)
