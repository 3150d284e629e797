"""Predicate expression DSL with falsifiable-filter manifest pruning.

The reference filters scans with ``pyarrow.compute.Expression`` and prunes
data files by rewriting the predicate into a "falsifiable filter" over
per-file min/max stats (reference:
python/src/space/core/manifests/falsifiable_filters.py:39-308). We keep the
same semantics but emit PySpark ``Column`` objects twice:

- ``to_spark()``   -> the row-level predicate, handed to ``DataFrame.where``
  (Catalyst pushes it into the Parquet scan natively).
- ``falsifiable()``-> a predicate over manifest stats columns
  ``_STATS_<field>._MIN/_MAX`` that is TRUE only when the file provably
  contains no matching row. Unsupported constructs return ``None``
  (= no pruning, never wrong pruning).

Supported surface (parity with falsifiable_filters.py:221-289):
comparisons ``== != < <= > >=`` over field-vs-literal, field-vs-field and
literal-vs-literal, composed with ``& | ~``.
"""

from __future__ import annotations

import datetime as _dt
import operator as _op
from typing import Any, Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

_LITERAL_TYPES = (bool, int, float, str, bytes, _dt.date, _dt.datetime)


def field(name: str) -> "Field":
    """Reference a column, e.g. ``field("l_quantity") > 30``."""
    return Field(name)


def lit(value: Any) -> "Literal":
    return Literal(value)


def _wrap(value: Union["Expr", Any]) -> "Expr":
    if isinstance(value, Expr):
        return value
    if value is None or isinstance(value, _LITERAL_TYPES):
        return Literal(value)
    raise TypeError(f"Unsupported literal type for predicate: {type(value)}")


class _SparkBackend:
    """Emit the falsifiable predicate as a Spark Column (used when manifests
    are read as a DataFrame)."""

    @staticmethod
    def stat(name: str, part: str):
        return F.col(f"_STATS_{name}.{part}")

    @staticmethod
    def lit(value):
        return F.lit(value)


class _ArrowBackend:
    """Emit the falsifiable predicate as a pyarrow.compute Expression (used
    for driver-side manifest pruning without launching a Spark job)."""

    @staticmethod
    def stat(name: str, part: str):
        import pyarrow.compute as pc

        return pc.field(f"_STATS_{name}", part)

    @staticmethod
    def lit(value):
        import pyarrow.compute as pc

        return pc.scalar(value)


BACKENDS = {"spark": _SparkBackend, "arrow": _ArrowBackend}


def _stat(name: str, part: str) -> Column:
    return F.col(f"_STATS_{name}.{part}")


class Expr:
    """Base predicate/value node."""

    # -- comparison builders ------------------------------------------------
    def __eq__(self, other):  # type: ignore[override]
        return Comparison("==", self, _wrap(other))

    def __ne__(self, other):  # type: ignore[override]
        return Comparison("!=", self, _wrap(other))

    def __lt__(self, other):
        return Comparison("<", self, _wrap(other))

    def __le__(self, other):
        return Comparison("<=", self, _wrap(other))

    def __gt__(self, other):
        return Comparison(">", self, _wrap(other))

    def __ge__(self, other):
        return Comparison(">=", self, _wrap(other))

    # -- boolean builders ---------------------------------------------------
    def __and__(self, other: "Expr") -> "Expr":
        return And(self, other)

    def __or__(self, other: "Expr") -> "Expr":
        return Or(self, other)

    def __invert__(self) -> "Expr":
        return Not(self)

    # -- arithmetic builders (value-level, for generated columns and
    # richer CHECK constraints; see Arith) ---------------------------------
    def __add__(self, other):
        return Arith("+", self, _wrap(other))

    def __radd__(self, other):
        return Arith("+", _wrap(other), self)

    def __sub__(self, other):
        return Arith("-", self, _wrap(other))

    def __rsub__(self, other):
        return Arith("-", _wrap(other), self)

    def __mul__(self, other):
        return Arith("*", self, _wrap(other))

    def __rmul__(self, other):
        return Arith("*", _wrap(other), self)

    def __truediv__(self, other):
        return Arith("/", self, _wrap(other))

    def __rtruediv__(self, other):
        return Arith("/", _wrap(other), self)

    def __mod__(self, other):
        return Arith("%", self, _wrap(other))

    def concat(self, other) -> "Expr":
        """String concatenation (SQL ``||`` — null in, null out)."""
        return Arith("concat", self, _wrap(other))

    def fn(self, name: str) -> "Expr":
        """Apply a whitelisted scalar function (see Func._SPARK)."""
        return Func(name, self)

    def __hash__(self):
        return hash(repr(self))

    def __bool__(self):
        raise TypeError(
            "Cannot convert predicate Expr to bool; use & | ~ to compose."
        )

    # -- interface ------------------------------------------------------------
    def to_spark(self) -> Column:
        raise NotImplementedError

    def negate(self) -> "Expr":
        raise NotImplementedError

    def falsifiable(self, stats_fields: set, backend: str = "spark"):
        """Predicate over manifest stats proving 'no row in this file can
        match'; None when not derivable (then the file is kept).

        ``backend="spark"`` emits a Column over a manifest DataFrame;
        ``backend="arrow"`` emits a pyarrow.compute Expression for
        driver-side pruning with no Spark job."""
        raise NotImplementedError

    def fields(self) -> set:
        raise NotImplementedError


class Field(Expr):
    def __init__(self, name: str):
        self.name = name

    def to_spark(self) -> Column:
        return F.col(self.name)

    def fields(self) -> set:
        return {self.name}

    def isin(self, values) -> "Expr":
        """``field(x).isin([a, b, ...])`` — sugar for the Or-of-equals
        chain, which keeps IN inside the closed algebra: manifest
        pruning falsifies each equality against file min/max, the JSON
        transport and CHECK constraints carry it unchanged. An empty
        value list is constant-false (SQL ``IN ()`` semantics)."""
        vals = list(values)
        if not vals:
            # lit(0) == lit(1): a Literal-vs-Literal comparison the
            # pruning backend constant-folds to "falsifies every file".
            return Comparison("==", Literal(0), Literal(1))
        out: Expr = Comparison("==", self, _wrap(vals[0]))
        for v in vals[1:]:
            out = Or(out, Comparison("==", self, _wrap(v)))
        return out

    def __repr__(self):
        return f"field({self.name!r})"


class Literal(Expr):
    def __init__(self, value: Any):
        self.value = value

    def to_spark(self) -> Column:
        return F.lit(self.value)

    def fields(self) -> set:
        return set()

    def __repr__(self):
        return f"lit({self.value!r})"


_NEGATED_OP = {"==": "!=", "!=": "==", "<": ">=", "<=": ">", ">": "<=", ">=": "<"}
_SWAPPED_OP = {"==": "==", "!=": "!=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}


class Comparison(Expr):
    def __init__(self, op: str, left: Expr, right: Expr):
        self.op = op
        self.left = left
        self.right = right

    # Dispatch table of Column operators: build ONLY the requested
    # comparison. The previous dict-literal form constructed all six
    # Columns (one py4j round-trip each, ~1 ms) and discarded five —
    # pure driver latency on every Spark-side filter/constraint/
    # generated-column compile (r13-opt; thread-sample attribution).
    _CMP = {"==": _op.eq, "!=": _op.ne, "<": _op.lt,
            "<=": _op.le, ">": _op.gt, ">=": _op.ge}

    def to_spark(self) -> Column:
        return self._CMP[self.op](self.left.to_spark(),
                                  self.right.to_spark())

    def negate(self) -> "Expr":
        return Comparison(_NEGATED_OP[self.op], self.left, self.right)

    def fields(self) -> set:
        return self.left.fields() | self.right.fields()

    def falsifiable(self, stats_fields: set, backend: str = "spark"):
        B = BACKENDS[backend]
        left, right, op = self.left, self.right, self.op
        # Normalize literal-vs-field to field-vs-literal by swapping.
        if isinstance(left, Literal) and isinstance(right, Field):
            left, right, op = right, left, _SWAPPED_OP[op]

        if isinstance(left, Literal) and isinstance(right, Literal):
            try:
                result = _PY_CMP[op](left.value, right.value)
            except TypeError:
                return None
            # Constant-false predicate falsifies every file.
            return B.lit(not bool(result))

        if isinstance(left, Field) and isinstance(right, Literal):
            if left.name not in stats_fields or right.value is None:
                return None
            mn, mx = B.stat(left.name, "_MIN"), B.stat(left.name, "_MAX")
            v = B.lit(right.value)
            # Rules mirror falsifiable_filters.py:221-289. Lambdas so
            # only the requested branch is constructed (the spark
            # backend pays py4j per node — see Comparison._CMP).
            return {
                "==": lambda: (mn > v) | (mx < v),
                "!=": lambda: (mn == v) & (mx == v),
                "<": lambda: mn >= v,
                "<=": lambda: mn > v,
                ">": lambda: mx <= v,
                ">=": lambda: mx < v,
            }[op]()

        if isinstance(left, Field) and isinstance(right, Field):
            if left.name not in stats_fields or right.name not in stats_fields:
                return None
            lmn, lmx = B.stat(left.name, "_MIN"), B.stat(left.name, "_MAX")
            rmn, rmx = B.stat(right.name, "_MIN"), B.stat(right.name, "_MAX")
            return {
                "==": lambda: (lmn > rmx) | (lmx < rmn),
                "!=": lambda: (lmn == lmx) & (rmn == rmx) & (lmn == rmn),
                "<": lambda: lmn >= rmx,
                "<=": lambda: lmn > rmx,
                ">": lambda: lmx <= rmn,
                ">=": lambda: lmx < rmn,
            }[op]()

        return None

    def __repr__(self):
        return f"({self.left!r} {self.op} {self.right!r})"


_PY_CMP = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


class And(Expr):
    def __init__(self, left: Expr, right: Expr):
        self.left, self.right = left, right

    def to_spark(self) -> Column:
        return self.left.to_spark() & self.right.to_spark()

    def negate(self) -> "Expr":
        return Or(self.left.negate(), self.right.negate())

    def fields(self) -> set:
        return self.left.fields() | self.right.fields()

    def falsifiable(self, stats_fields: set, backend: str = "spark"):
        # A conjunction is refuted if EITHER conjunct is refuted; a
        # non-falsifiable conjunct simply contributes nothing.
        l = self.left.falsifiable(stats_fields, backend)
        r = self.right.falsifiable(stats_fields, backend)
        if l is not None and r is not None:
            return l | r
        return l if l is not None else r

    def __repr__(self):
        return f"({self.left!r} & {self.right!r})"


class Or(Expr):
    def __init__(self, left: Expr, right: Expr):
        self.left, self.right = left, right

    def to_spark(self) -> Column:
        return self.left.to_spark() | self.right.to_spark()

    def negate(self) -> "Expr":
        return And(self.left.negate(), self.right.negate())

    def fields(self) -> set:
        return self.left.fields() | self.right.fields()

    def falsifiable(self, stats_fields: set, backend: str = "spark"):
        # A disjunction is refuted only if BOTH disjuncts are refuted.
        l = self.left.falsifiable(stats_fields, backend)
        r = self.right.falsifiable(stats_fields, backend)
        if l is None or r is None:
            return None
        return l & r

    def __repr__(self):
        return f"({self.left!r} | {self.right!r})"


class Arith(Expr):
    """Value-level binary node: ``+ - * / %`` and ``concat``. Part of
    the same CLOSED, code-execution-free algebra as the predicates —
    carried by the JSON transport, evaluated Spark-side (to_spark) and
    Arrow-side (eval_arrow_rows). Enables generated-column expressions
    (``field('a') * 2 + 1``) and richer CHECK constraints
    (``field('qty') * field('price') <= lit(cap)``). Never prunable:
    a Comparison over an Arith operand returns None from falsifiable
    (kept, never wrongly skipped). ``/`` is SQL double division; ``%``
    follows Spark's sign convention (result has the dividend's sign).

    Overflow semantics: the Arrow evaluator implements Spark's DEFAULT
    (ANSI) behavior — int64 overflow and zero divisors RAISE. A user
    session running with ``spark.sql.ansi.enabled=false`` will wrap
    overflow on the Spark-side write path while the sink still raises;
    the divergence is deliberate — raising can reject a batch, wrapping
    would persist silently-wrong generated values. Parity under the
    default session is property-tested (test_expr_parity_properties)."""

    _OPS = ("+", "-", "*", "/", "%", "concat")

    def __init__(self, op: str, left: Expr, right: Expr):
        if op not in self._OPS:
            raise ValueError(f"Unknown arithmetic op: {op!r}")
        self.op = op
        self.left, self.right = left, right

    def to_spark(self) -> Column:
        l, r = self.left.to_spark(), self.right.to_spark()
        if self.op == "concat":
            return F.concat(l.cast("string"), r.cast("string"))
        if self.op == "/":
            return l.cast("double") / r.cast("double")
        if self.op in ("+", "*"):
            # Catalyst's ReorderAssociativeOperator flattens integral
            # +/* chains and moves literals last, so a * (a * 0) runs as
            # (a * a) * 0 and raises an ANSI overflow that tree order
            # (and the Arrow evaluator) does not. A one-element array
            # pick is opaque to that rule and pins the tree's order.
            l, r = (F.element_at(F.array(c), 1)
                    if isinstance(n, Arith) and n.op == self.op else c
                    for n, c in ((self.left, l), (self.right, r)))
        # Build only the requested Column (see Comparison._CMP).
        return {"+": _op.add, "-": _op.sub,
                "*": _op.mul, "%": _op.mod}[self.op](l, r)

    def fields(self) -> set:
        return self.left.fields() | self.right.fields()

    def falsifiable(self, stats_fields: set, backend: str = "spark"):
        return None

    def __repr__(self):
        return f"({self.left!r} {self.op} {self.right!r})"


class Func(Expr):
    """Whitelisted unary scalar function — the declarative analog of a
    tiny SQL function library (upper/lower/length/abs/year/month/day/
    to_date). Closed whitelist: the JSON decoder rejects unknown names,
    so the transport still cannot execute code."""

    _NAMES = ("upper", "lower", "length", "abs",
              "year", "month", "day", "to_date")

    def __init__(self, name: str, child: Expr):
        if name not in self._NAMES:
            raise ValueError(f"Unknown function: {name!r}")
        self.name = name
        self.child = child

    def to_spark(self) -> Column:
        # Build only the requested Column (see Comparison._CMP).
        return {
            "upper": F.upper, "lower": F.lower,
            "length": F.length, "abs": F.abs,
            "year": F.year, "month": F.month, "day": F.day,
            "to_date": F.to_date,
        }[self.name](self.child.to_spark())

    def fields(self) -> set:
        return self.child.fields()

    def falsifiable(self, stats_fields: set, backend: str = "spark"):
        return None

    def __repr__(self):
        return f"{self.name}({self.child!r})"


class Not(Expr):
    def __init__(self, child: Expr):
        self.child = child

    def to_spark(self) -> Column:
        return ~self.child.to_spark()

    def negate(self) -> "Expr":
        return self.child

    def fields(self) -> set:
        return self.child.fields()

    def falsifiable(self, stats_fields: set, backend: str = "spark"):
        # Push NOT down to comparisons, then refute the rewritten tree.
        try:
            pushed = self.child.negate()
        except NotImplementedError:
            return None
        return pushed.falsifiable(stats_fields, backend)

    def __repr__(self):
        return f"~{self.child!r}"


def expr_to_json(expr: "Expr") -> str:
    """Serialize a predicate to a declarative JSON form for transport
    through string-typed channels (the ``space`` DataSource's
    ``prune_expr`` option). The algebra is small and CLOSED —
    Field/Literal/Comparison/And/Or/Not — so a JSON tree of tagged
    nodes carries it exactly; unlike pickle, decoding can never execute
    code, which matters because DataSource options are reachable from
    SQL (``CREATE TABLE ... USING space OPTIONS (...)``) — ADVICE r9
    medium."""
    import base64 as _b64
    import json as _json
    import math as _math

    def enc_value(v):
        if v is None:
            return {"vt": "null"}
        if isinstance(v, bool):
            return {"vt": "bool", "v": v}
        if isinstance(v, int):
            return {"vt": "int", "v": v}
        if isinstance(v, float):
            if _math.isfinite(v):
                return {"vt": "float", "v": v}
            return {"vt": "floatstr", "v": repr(v)}
        if isinstance(v, str):
            return {"vt": "str", "v": v}
        if isinstance(v, bytes):
            return {"vt": "bytes",
                    "v": _b64.b64encode(v).decode("ascii")}
        if isinstance(v, _dt.datetime):  # before date: datetime IS a date
            return {"vt": "ts", "v": v.isoformat()}
        if isinstance(v, _dt.date):
            return {"vt": "date", "v": v.isoformat()}
        raise TypeError(f"Unserializable literal: {type(v).__name__}")

    def enc(e):
        if isinstance(e, Field):
            return {"n": "field", "name": e.name}
        if isinstance(e, Literal):
            return {"n": "lit", **enc_value(e.value)}
        if isinstance(e, Comparison):
            if e.op not in _PY_CMP:
                raise ValueError(f"Unknown comparison op: {e.op!r}")
            return {"n": "cmp", "op": e.op,
                    "l": enc(e.left), "r": enc(e.right)}
        if isinstance(e, And):
            return {"n": "and", "l": enc(e.left), "r": enc(e.right)}
        if isinstance(e, Or):
            return {"n": "or", "l": enc(e.left), "r": enc(e.right)}
        if isinstance(e, Not):
            return {"n": "not", "c": enc(e.child)}
        if isinstance(e, Arith):
            return {"n": "arith", "op": e.op,
                    "l": enc(e.left), "r": enc(e.right)}
        if isinstance(e, Func):
            return {"n": "fn", "name": e.name, "c": enc(e.child)}
        raise TypeError(f"Unserializable Expr node: {type(e).__name__}")

    return _json.dumps(enc(expr), separators=(",", ":"))


def expr_from_json(s: str) -> "Expr":
    """Rebuild a predicate from :func:`expr_to_json` output. Rejects
    (raises ``ValueError``) anything outside the closed algebra — this
    is the UNTRUSTED side of the DataSource option channel."""
    import base64 as _b64
    import json as _json

    def dec_value(node):
        vt = node.get("vt")
        v = node.get("v")
        if vt == "null":
            return None
        if vt == "bool" and isinstance(v, bool):
            return v
        if vt == "int" and isinstance(v, int) and not isinstance(v, bool):
            return v
        if vt == "float" and isinstance(v, (int, float)) \
                and not isinstance(v, bool):
            return float(v)
        if vt == "floatstr" and v in ("inf", "-inf", "nan"):
            return float(v)
        if vt == "str" and isinstance(v, str):
            return v
        if vt == "bytes" and isinstance(v, str):
            return _b64.b64decode(v)
        if vt == "ts" and isinstance(v, str):
            return _dt.datetime.fromisoformat(v)
        if vt == "date" and isinstance(v, str):
            return _dt.date.fromisoformat(v)
        raise ValueError(f"Bad literal encoding: {node!r}")

    def dec(node):
        if not isinstance(node, dict):
            raise ValueError(f"Bad expr node: {node!r}")
        n = node.get("n")
        if n == "field":
            name = node.get("name")
            if not isinstance(name, str):
                raise ValueError(f"Bad field name: {name!r}")
            return Field(name)
        if n == "lit":
            return Literal(dec_value(node))
        if n == "cmp":
            op = node.get("op")
            if op not in _PY_CMP:
                raise ValueError(f"Unknown comparison op: {op!r}")
            return Comparison(op, dec(node["l"]), dec(node["r"]))
        if n == "and":
            return And(dec(node["l"]), dec(node["r"]))
        if n == "or":
            return Or(dec(node["l"]), dec(node["r"]))
        if n == "not":
            return Not(dec(node["c"]))
        if n == "arith":
            op = node.get("op")
            if op not in Arith._OPS:
                raise ValueError(f"Unknown arithmetic op: {op!r}")
            return Arith(op, dec(node["l"]), dec(node["r"]))
        if n == "fn":
            name = node.get("name")
            if name not in Func._NAMES:
                raise ValueError(f"Unknown function: {name!r}")
            return Func(name, dec(node["c"]))
        raise ValueError(f"Unknown expr node kind: {n!r}")

    return dec(_json.loads(s))


def rename_fields(expr: "Expr", mapping: dict) -> "Expr":
    """Copy of ``expr`` with every Field name passed through ``mapping``
    (identity for absent names). Used to translate user-facing LOGICAL
    column names to the immutable PHYSICAL names that manifest stats are
    keyed by, at the manifest-pruning boundary only."""
    if expr is None or not mapping:
        return expr
    if isinstance(expr, Field):
        return Field(mapping.get(expr.name, expr.name))
    if isinstance(expr, Literal):
        return expr
    if isinstance(expr, Comparison):
        return Comparison(
            expr.op,
            rename_fields(expr.left, mapping),
            rename_fields(expr.right, mapping),
        )
    if isinstance(expr, And):
        return And(rename_fields(expr.left, mapping),
                   rename_fields(expr.right, mapping))
    if isinstance(expr, Or):
        return Or(rename_fields(expr.left, mapping),
                  rename_fields(expr.right, mapping))
    if isinstance(expr, Not):
        return Not(rename_fields(expr.child, mapping))
    if isinstance(expr, Arith):
        return Arith(expr.op, rename_fields(expr.left, mapping),
                     rename_fields(expr.right, mapping))
    if isinstance(expr, Func):
        return Func(expr.name, rename_fields(expr.child, mapping))
    return expr  # unknown node: pruning treats it as non-falsifiable


def equality_conjuncts(expr: "Expr") -> dict:
    """``{column: [literals]}`` for every TOP-LEVEL AND conjunct that
    pins a single column to a literal set:

    - ``col == lit`` (either orientation) -> ``{col: [lit]}``;
    - a pure Or-of-equals chain over ONE column — what ``isin``
      desugars to — -> ``{col: [lits...]}``.

    Only the And-spine is walked; an OR subtree is used ONLY when every
    leaf is an equality on the same column (then a matching row must
    take one of the listed values), otherwise it is discarded — so the
    extraction can never justify a wrong prune. Repeated conjuncts on
    one column keep the FIRST set (intersecting would be tighter, but
    pruning with a superset is still sound). Consumers: Bloom
    membership pruning (Dataset._bloom_equality_prune, datasource
    partition planning)."""
    out: dict = {}

    def leaf(e):
        """(col, lit) for ``col == lit`` in either orientation."""
        if isinstance(e, Comparison) and e.op == "==":
            if isinstance(e.left, Field) and isinstance(e.right, Literal):
                return e.left.name, e.right.value
            if isinstance(e.right, Field) and isinstance(e.left, Literal):
                return e.right.name, e.left.value
        return None

    def or_chain(e):
        """(col, [lits]) when the whole Or-subtree is equalities on one
        column; None otherwise."""
        if isinstance(e, Or):
            a, b = or_chain(e.left), or_chain(e.right)
            if a and b and a[0] == b[0]:
                return a[0], a[1] + b[1]
            return None
        hit = leaf(e)
        return (hit[0], [hit[1]]) if hit else None

    def walk(e):
        if isinstance(e, And):
            walk(e.left)
            walk(e.right)
            return
        hit = leaf(e)
        if hit:
            out.setdefault(hit[0], [hit[1]])
            return
        if isinstance(e, Or):
            chain = or_chain(e)
            if chain:
                out.setdefault(chain[0], chain[1])

    walk(expr)
    return out


def eval_arrow_rows(expr: "Expr", batch) -> "object":
    """Row-level evaluation of the closed algebra against a pyarrow
    RecordBatch/Table: returns a BooleanArray (Kleene semantics — null
    propagates like SQL three-valued logic). Used by the ``space``
    datasink to enforce CHECK constraints per batch on the executor,
    with zero extra IO (the batch is already in memory on its way into
    the parquet writer). Column names must match the batch's names —
    translate with :func:`rename_fields` first if needed."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def ev(e):
        if isinstance(e, Field):
            idx = batch.schema.get_field_index(e.name)
            if idx < 0:
                raise ValueError(
                    f"Constraint references unknown column {e.name!r}"
                )
            return batch.column(idx)
        if isinstance(e, Literal):
            return pa.scalar(e.value)
        if isinstance(e, Comparison):
            fn = {"==": pc.equal, "!=": pc.not_equal, "<": pc.less,
                  "<=": pc.less_equal, ">": pc.greater,
                  ">=": pc.greater_equal}[e.op]
            return fn(ev(e.left), ev(e.right))
        if isinstance(e, And):
            return pc.and_kleene(ev(e.left), ev(e.right))
        if isinstance(e, Or):
            return pc.or_kleene(ev(e.left), ev(e.right))
        if isinstance(e, Not):
            return pc.invert(ev(e.child))
        if isinstance(e, Arith):
            l, r = ev(e.left), ev(e.right)
            if e.op == "concat":
                return pc.binary_join_element_wise(
                    pc.cast(l, pa.string()), pc.cast(r, pa.string()),
                    "", null_handling="emit_null",
                )
            if e.op == "/":
                # safe=False: Spark's double division converts int64
                # LOSSILY above 2^53; Arrow's safe cast would raise.
                return pc.divide(pc.cast(l, pa.float64(), safe=False),
                                 pc.cast(r, pa.float64(), safe=False))
            if e.op == "%":
                # Match Spark/SQL %: dividend-sign remainder. For
                # INTEGER operands this must be exact int64 arithmetic
                # — a float64 emulation silently mangles |x| > 2^53,
                # and the sink would then persist a generated column
                # differing from the Spark-side write path. Arrow's
                # integer divide truncates toward zero (C semantics,
                # same as Spark), so l - (l / d) * d is exact, and a
                # zero divisor RAISES — the same surface as Spark 4's
                # default ANSI mode (REMAINDER_BY_ZERO). This applies
                # to FLOAT divisors too, not just integral/decimal:
                # Spark's Remainder extends DivModLike, whose eval
                # checks isZero(input2) before type-specific math and
                # throws remainderByZeroError for DoubleType inputs
                # under ANSI (verified empirically on pyspark 4.1.2:
                # `SELECT x % y FROM VALUES (5.0D, 0.0D) t(x,y)`
                # raises REMAINDER_BY_ZERO; round-12 ADVICE suggested
                # NaN here — that is pre-ANSI/HIVE behavior, wrong for
                # the ANSI-default session this engine pins — parity
                # pinned by test_expr_parity_properties.py).
                def is_int(a):
                    t = a.type if hasattr(a, "type") else None
                    return t is not None and pa.types.is_integer(t)

                if is_int(l) and is_int(r):
                    li = pc.cast(l, pa.int64())
                    d = pc.cast(r, pa.int64())
                    return pc.subtract(
                        li, pc.multiply(pc.divide(li, d), d)
                    )
                q = pc.cast(l, pa.float64(), safe=False)
                d = pc.cast(r, pa.float64(), safe=False)
                # Exact IEEE truncated remainder (= Java's % on
                # doubles, which Spark's Remainder compiles to):
                # trunc(q/d)*d double-rounds once |q/d| exceeds 2^53
                # — e.g. (2^60+3) % 2.5 is 1.0 under fmod but 0.0
                # under the trunc formula (caught by the round-12
                # parity test). Arrow has no float-remainder kernel;
                # np.fmod is the correctly-rounded libm one. Null
                # positions are masked back in explicitly — filling
                # with NaN would conflate SQL NULL with IEEE NaN.
                import math as _math

                import numpy as _np

                if isinstance(q, pa.Scalar) and isinstance(d, pa.Scalar):
                    if q.as_py() is None or d.as_py() is None:
                        return pa.scalar(None, pa.float64())
                    if d.as_py() == 0.0:
                        raise ZeroDivisionError(
                            "Remainder by zero (matches Spark ANSI "
                            "REMAINDER_BY_ZERO)"
                        )
                    return pa.scalar(
                        _math.fmod(q.as_py(), d.as_py()), pa.float64()
                    )

                def _as_arr(x):
                    if isinstance(x, pa.ChunkedArray):
                        return x.combine_chunks()
                    if isinstance(x, pa.Scalar):
                        return pa.array(
                            [x.as_py()] * batch.num_rows, pa.float64()
                        )
                    return x

                qa, da = _as_arr(q), _as_arr(d)
                # Raise only where a NON-NULL dividend meets a zero
                # divisor: Spark's DivModLike short-circuits a NULL
                # dividend to NULL BEFORE the ANSI zero check
                # (verified: NULL %% 0.0D -> NULL, 5.0D %% 0.0D ->
                # REMAINDER_BY_ZERO — round-12 review finding). The
                # int path above inherits the same semantics from
                # Arrow's own validity-skipping divide kernel.
                bad = pc.and_(
                    pc.is_valid(qa),
                    pc.fill_null(pc.equal(
                        da, pa.scalar(0.0, pa.float64())
                    ), False),
                )
                if pc.any(bad).as_py():
                    raise ZeroDivisionError(
                        "Remainder by zero (matches Spark ANSI "
                        "REMAINDER_BY_ZERO)"
                    )
                invalid = pc.or_(
                    pc.is_null(qa), pc.is_null(da)
                ).to_numpy(zero_copy_only=False)
                # errstate: a REAL 0.0 divisor can sit at a null-
                # dividend slot (filled to 0.0) — fmod emits NaN there
                # and the mask nulls it out; silence the warning.
                with _np.errstate(invalid="ignore"):
                    out = _np.fmod(
                        _np.asarray(pc.fill_null(qa, 0.0)),
                        _np.asarray(pc.fill_null(da, 1.0)),
                    )
                return pa.array(out, pa.float64(), mask=invalid)
            # CHECKED kernels: int64 overflow must RAISE like Spark's
            # default ANSI mode, not wrap — an unchecked multiply
            # would let the sink persist a wrapped generated value
            # where Dataset.append raises ARITHMETIC_OVERFLOW (found
            # by the cross-engine property test).
            return {"+": pc.add_checked, "-": pc.subtract_checked,
                    "*": pc.multiply_checked}[e.op](l, r)
        if isinstance(e, Func):
            c = ev(e.child)
            if e.name == "upper":
                return pc.utf8_upper(c)
            if e.name == "lower":
                return pc.utf8_lower(c)
            if e.name == "length":
                return pc.utf8_length(c)
            if e.name == "abs":
                return pc.abs(c)
            if e.name == "year":
                return pc.year(c)
            if e.name == "month":
                return pc.month(c)
            if e.name == "day":
                return pc.day(c)
            if e.name == "to_date":
                return pc.cast(c, pa.date32())
        raise TypeError(f"Unevaluable Expr node: {type(e).__name__}")

    return ev(expr)
