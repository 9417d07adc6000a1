"""Formula transform (T7) — arithmetic expression compiler → Spark Column.

The reference "compiles" formulas by *substring-replacing* field names with
``float(value)`` in row-iteration order and calling ``eval`` per row
(``dynamic.py:221-237``).  That is both a correctness trap (a field named
``Quantity`` corrupts an expression referencing ``Quantity2``; SURVEY §2.3 T7)
and the slow path.  This compiler tokenizes identifiers properly and emits a
single Column expression — the documented intentional divergence.

Reference semantics preserved:
  * operand value: ``float(value) if value else 0``; unparseable → 0
    (→ ``coalesce(try_cast(col as double), 0.0)``)
  * unknown identifier → eval NameError → None result (→ error downstream)
  * division by zero → ZeroDivisionError → None result (→ ``try_divide``)
  * ``%`` follows Python float-modulo semantics (sign of divisor)

Documented divergence: ``0 ** -1`` is ``Infinity`` here (SQL ``pow``), a
ZeroDivisionError (→ error) in the reference.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from csv_etl_spark.local import ident_col

_TOKEN_RE = re.compile(
    r"\s*(?:"
    r"(?P<num>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)"
    r"|(?P<ident>[A-Za-z_]\w*)"
    r"|`(?P<quoted>[^`]+)`"
    r"|(?P<op>\*\*|//|[+\-*/%()])"
    r")"
)


class FormulaError(ValueError):
    pass


@dataclass
class _Token:
    kind: str  # num | ident | op
    text: str


def _tokenize(expression: str) -> list[_Token]:
    tokens: list[_Token] = []
    pos = 0
    while pos < len(expression):
        m = _TOKEN_RE.match(expression, pos)
        if not m:
            if expression[pos:].strip() == "":
                break
            raise FormulaError(f"cannot tokenize formula at {expression[pos:]!r}")
        pos = m.end()
        if m.group("num") is not None:
            tokens.append(_Token("num", m.group("num")))
        elif m.group("ident") is not None:
            tokens.append(_Token("ident", m.group("ident")))
        elif m.group("quoted") is not None:
            tokens.append(_Token("ident", m.group("quoted")))
        else:
            tokens.append(_Token("op", m.group("op")))
    return tokens


class _Parser:
    """Recursive-descent parser over Python arithmetic precedence."""

    def __init__(self, tokens: list[_Token], fields: set[str]):
        self.tokens = tokens
        self.pos = 0
        self.fields = fields
        self.used: set[str] = set()
        self.has_unknown = False

    def peek(self) -> _Token | None:
        return self.tokens[self.pos] if self.pos < len(self.tokens) else None

    def eat(self, text: str | None = None) -> _Token:
        tok = self.peek()
        if tok is None:
            raise FormulaError("unexpected end of formula")
        if text is not None and tok.text != text:
            raise FormulaError(f"expected {text!r}, got {tok.text!r}")
        self.pos += 1
        return tok

    def parse(self) -> Column:
        col = self.expr()
        if self.peek() is not None:
            raise FormulaError(f"trailing tokens in formula: {self.peek().text!r}")
        return col

    def expr(self) -> Column:
        left = self.term()
        while (tok := self.peek()) and tok.kind == "op" and tok.text in ("+", "-"):
            self.eat()
            right = self.term()
            left = (left + right) if tok.text == "+" else (left - right)
        return left

    def term(self) -> Column:
        left = self.unary()
        while (tok := self.peek()) and tok.kind == "op" and tok.text in ("*", "/", "%", "//"):
            self.eat()
            right = self.unary()
            if tok.text == "*":
                left = left * right
            elif tok.text == "/":
                left = F.try_divide(left, right)
            elif tok.text == "//":
                left = F.floor(F.try_divide(left, right)).cast("double")
            else:  # Python float modulo: a - b*floor(a/b), null when b == 0
                q = F.floor(F.try_divide(left, right)).cast("double")
                left = left - right * q
        return left

    def unary(self) -> Column:
        tok = self.peek()
        if tok and tok.kind == "op" and tok.text in ("+", "-"):
            self.eat()
            operand = self.unary()
            return operand if tok.text == "+" else (-operand)
        return self.power()

    def power(self) -> Column:
        base = self.atom()
        tok = self.peek()
        if tok and tok.kind == "op" and tok.text == "**":
            self.eat()
            exponent = self.unary()  # right-assoc, binds tighter than unary on the right
            return F.pow(base, exponent)
        return base

    def atom(self) -> Column:
        tok = self.eat()
        if tok.kind == "num":
            return F.lit(float(tok.text))
        if tok.kind == "ident":
            if tok.text in self.fields:
                self.used.add(tok.text)
                # float(value) if value else 0; unparseable → 0
                return F.coalesce(ident_col(tok.text).try_cast("double"), F.lit(0.0))
            # unknown field name → NameError in the reference → null result
            self.has_unknown = True
            return F.lit(None).cast("double")
        if tok.text == "(":
            inner = self.expr()
            self.eat(")")
            return inner
        raise FormulaError(f"unexpected token {tok.text!r}")


def compile_formula(expression: str, source_columns: list[str]) -> tuple[Column, bool]:
    """Compile an arithmetic formula to a double Column.

    Returns ``(column, can_be_null)`` — ``can_be_null`` is True when the
    expression can evaluate to null (unknown field, division), which the
    error channel turns into a RowError like the reference's eval-failure
    path (``dynamic.py:164-172``).
    """
    parser = _Parser(_tokenize(expression), set(source_columns))
    col = parser.parse()
    can_be_null = True  # division/mod may appear anywhere; treat null as error signal
    if parser.has_unknown:
        col = F.lit(None).cast("double")
    return col, can_be_null
