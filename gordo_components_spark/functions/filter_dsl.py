"""Row-filter DSL → Spark SQL compiler.

Reference: ``gordo_components/dataset/filter_rows.py::pandas_filter_rows``
/ ``::parse_pandas_filter_vars`` (SURVEY §2 O10).  The reference accepts a
pandas-``eval``-style boolean expression over tag columns — comparisons,
``& | ~``, parentheses, arithmetic — and drops rows failing it.  We keep
the same surface grammar but compile to a Spark SQL predicate string, so
the filter executes JVM-side inside whole-stage codegen (and pushes down
through joins/aggregates) instead of in a Python loop.

This is a hand-rolled recursive-descent parser rather than Python's
``ast`` on purpose: Python binds ``&``/``|`` *tighter* than comparisons,
so ``a > 0 & b < 1`` means ``a > (0 & b) < 1`` — pandas users write the
DSL expecting boolean precedence (`` `A` > 0 & `B` < 1 ``).  Grammar, low
to high precedence::

    or_expr   := and_expr ( '|' and_expr )*
    and_expr  := not_expr ( '&' not_expr )*
    not_expr  := '~' not_expr | comparison
    comparison:= additive ( ('=='|'!='|'>='|'<='|'>'|'<') additive )*
    additive  := term ( ('+'|'-') term )*
    term      := unary ( ('*'|'/'|'%') unary )*
    unary     := '-' unary | atom
    atom      := '(' or_expr ')' | `column` | identifier | number | 'string'

Chained comparisons (``a < b < c``) compile to the AND of the pairs, as
in Python/pandas.  Function calls, attribute access, subscripts and names
outside the supplied column set are rejected (the reference whitelists
its AST likewise).
"""

from __future__ import annotations

import re

from gordo_components_spark.functions.timeseries import sql_ident, sql_string


class FilterDSLError(ValueError):
    """Invalid or disallowed filter expression."""


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<backtick>`[^`]+`)
      | (?P<number>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
      | (?P<string>'[^']*'|"[^"]*")
      | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<op>==|!=|>=|<=|>|<|\||&|~|\+|-|\*|/|%|\(|\))
    )""",
    re.VERBOSE,
)

_CMP = {"==": "=", "!=": "<>", ">": ">", ">=": ">=", "<": "<", "<=": "<="}
_BOOL_LITERALS = {"True": "TRUE", "False": "FALSE", "true": "TRUE", "false": "FALSE"}


def _tokenize(expr: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if m is None:
            rest = expr[pos:].strip()
            if not rest:
                break
            raise FilterDSLError(f"unexpected character {rest[0]!r} in filter expression")
        pos = m.end()
        for kind in ("backtick", "number", "string", "name", "op"):
            val = m.group(kind)
            if val is not None:
                tokens.append((kind, val))
                break
    return tokens


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], allowed: set[str] | None):
        self.tokens = tokens
        self.i = 0
        self.allowed = allowed
        self.columns: list[str] = []

    def peek(self) -> tuple[str, str] | None:
        return self.tokens[self.i] if self.i < len(self.tokens) else None

    def take(self) -> tuple[str, str]:
        tok = self.peek()
        if tok is None:
            raise FilterDSLError("unexpected end of filter expression")
        self.i += 1
        return tok

    def expect_op(self, op: str) -> None:
        tok = self.take()
        if tok != ("op", op):
            raise FilterDSLError(f"expected {op!r}, got {tok[1]!r}")

    # precedence ladder ----------------------------------------------------
    def parse(self) -> str:
        sql = self.or_expr()
        if self.peek() is not None:
            raise FilterDSLError(f"trailing input at {self.peek()[1]!r}")
        return sql

    def or_expr(self) -> str:
        left = self.and_expr()
        while self.peek() == ("op", "|"):
            self.take()
            left = f"({left} OR {self.and_expr()})"
        return left

    def and_expr(self) -> str:
        left = self.not_expr()
        while self.peek() == ("op", "&"):
            self.take()
            left = f"({left} AND {self.not_expr()})"
        return left

    def not_expr(self) -> str:
        if self.peek() == ("op", "~"):
            self.take()
            return f"(NOT {self.not_expr()})"
        return self.comparison()

    def comparison(self) -> str:
        left = self.additive()
        parts: list[str] = []
        while (tok := self.peek()) is not None and tok[0] == "op" and tok[1] in _CMP:
            op = _CMP[self.take()[1]]
            right = self.additive()
            parts.append(f"({left} {op} {right})")
            left = right  # chained comparison: a < b < c
        if not parts:
            return left
        return parts[0] if len(parts) == 1 else "(" + " AND ".join(parts) + ")"

    def additive(self) -> str:
        left = self.term()
        while (tok := self.peek()) in (("op", "+"), ("op", "-")):
            self.take()
            left = f"({left} {tok[1]} {self.term()})"
        return left

    def term(self) -> str:
        left = self.unary()
        while (tok := self.peek()) in (("op", "*"), ("op", "/"), ("op", "%")):
            self.take()
            left = f"({left} {tok[1]} {self.unary()})"
        return left

    def unary(self) -> str:
        if self.peek() == ("op", "-"):
            self.take()
            return f"(- {self.unary()})"
        return self.atom()

    def atom(self) -> str:
        kind, val = self.take()
        if kind == "op" and val == "(":
            inner = self.or_expr()
            self.expect_op(")")
            return inner
        if kind == "backtick":
            return self._column(val[1:-1])
        if kind == "number":
            return val
        if kind == "string":
            # Spark SQL interprets C-style backslash escapes in string
            # literals (escapedStringLiterals=false default), so a DSL
            # string carrying a literal backslash would silently change
            # meaning ('a\nb' matched the NEWLINE row); pandas eval
            # treats the characters literally, so sql_string escapes
            # both the backslash and the quote
            return sql_string(val[1:-1])
        if kind == "name":
            if val in _BOOL_LITERALS:
                return _BOOL_LITERALS[val]
            if self.peek() == ("op", "("):
                raise FilterDSLError(f"function calls are not allowed ({val!r})")
            return self._column(val)
        raise FilterDSLError(f"unexpected token {val!r}")

    def _column(self, name: str) -> str:
        if self.allowed is not None and name not in self.allowed:
            raise FilterDSLError(f"unknown column {name!r}")
        self.columns.append(name)
        return sql_ident(name)


def compile_filter(expr: str, columns: list[str] | None = None) -> str:
    """Compile the DSL string to a Spark SQL boolean expression.

    ``columns``, when given, whitelists referencable names — anything else
    raises (matches the reference exposing only the frame's tag columns).
    """
    if not expr or not expr.strip():
        raise FilterDSLError("empty filter expression")
    parser = _Parser(_tokenize(expr), set(columns) if columns is not None else None)
    return parser.parse()


def parse_filter_vars(expr: str) -> list[str]:
    """Column names referenced by the expression, in first-use order
    (reference ``parse_pandas_filter_vars``)."""
    parser = _Parser(_tokenize(expr), None)
    parser.parse()
    seen: set[str] = set()
    return [c for c in parser.columns if not (c in seen or seen.add(c))]
