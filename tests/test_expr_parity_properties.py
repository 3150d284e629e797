"""Property-based Spark <-> Arrow parity for the closed expression
algebra (round 11 widened it with Arith/Func value nodes): a random
expression tree evaluated by ``eval_arrow_rows`` (the datasink's
per-batch path) must agree cell-for-cell with ``to_spark()`` (the
Dataset write path) on the same rows — the invariant that lets one
declared constraint/generated-column mean the same thing on both
write paths. Also pins the JSON transport as lossless for every
generated tree."""

import math

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from space_spark.core.expressions import (
    Arith,
    Comparison,
    Field,
    Func,
    Literal,
    eval_arrow_rows,
    expr_from_json,
    expr_to_json,
)

# Fixed evaluation rows: two long columns, one string column. Values
# deliberately include negatives and > 2^53 longs (the float64 trap).
ROWS = [
    {"a": 5, "b": 2, "s": "Ab"},
    {"a": -7, "b": 3, "s": ""},
    {"a": 2 ** 60 + 3, "b": 1000003, "s": "xyz"},
    {"a": None, "b": 4, "s": None},
    {"a": 0, "b": -5, "s": "ZZ"},
]
BATCH = pa.record_batch(
    {
        "a": pa.array([r["a"] for r in ROWS], pa.int64()),
        "b": pa.array([r["b"] for r in ROWS], pa.int64()),
        "s": pa.array([r["s"] for r in ROWS], pa.string()),
    }
)

# Value-node strategy: ints/fields composed with + - * % (division is
# covered separately — int/int -> double in both engines but float
# REPRESENTATION comparison needs approx handling; % by possibly-zero
# divisors raises in both, excluded here by using nonzero literals and
# field 'b' only as divisor when guarded).
num_leaf = st.one_of(
    st.sampled_from([Field("a"), Field("b")]),
    st.integers(min_value=-50, max_value=50).map(Literal),
)


def _num_tree(depth):
    if depth == 0:
        return num_leaf
    sub = _num_tree(depth - 1)
    return st.one_of(
        num_leaf,
        st.tuples(st.sampled_from(["+", "-", "*"]), sub, sub).map(
            lambda t: Arith(t[0], t[1], t[2])
        ),
        # %: keep divisors nonzero literals (both engines raise on 0 —
        # parity of the RAISE is pinned in test_generated_columns).
        st.tuples(
            sub,
            st.integers(min_value=1, max_value=97).map(Literal),
        ).map(lambda t: Arith("%", t[0], t[1])),
        sub.map(lambda e: Func("abs", e)),
    )


str_leaf = st.one_of(
    st.just(Field("s")),
    st.text(
        alphabet="abXY z", min_size=0, max_size=4
    ).map(Literal),
)
str_tree = st.one_of(
    str_leaf,
    st.tuples(str_leaf, str_leaf).map(
        lambda t: Arith("concat", t[0], t[1])
    ),
    str_leaf.map(lambda e: Func("upper", e)),
    str_leaf.map(lambda e: Func("lower", e)),
)

predicate = st.one_of(
    st.tuples(
        st.sampled_from(["==", "!=", "<", "<=", ">", ">="]),
        _num_tree(2),
        _num_tree(2),
    ).map(lambda t: Comparison(t[0], t[1], t[2])),
    st.tuples(
        st.sampled_from(["==", "!="]), str_tree, str_tree
    ).map(lambda t: Comparison(t[0], t[1], t[2])),
)


_RAISED = object()  # sentinel: engine raised (ANSI overflow etc.)

# The 5-row eval frame, materialized ONCE per SparkContext (r14 suite
# wall time): the per-example list-of-Rows createDataFrame is a
# Python-RDD plan — worker round-trips per hypothesis example summed
# to ~2 minutes across the two property sweeps. Built from the SAME
# arrow batch the arrow engine evaluates, localCheckpoint'd so every
# example's collect scans pinned rows. Values, types and assertions
# unchanged.
_EVAL_DF = {"ctx": None, "df": None}


def _eval_df(spark):
    ctx = spark.sparkContext
    if _EVAL_DF["ctx"] is not ctx:
        _EVAL_DF["ctx"] = ctx
        _EVAL_DF["df"] = spark.createDataFrame(
            pa.table(BATCH)
        ).coalesce(1).localCheckpoint()
        _EVAL_DF["df"].count()
    return _EVAL_DF["df"]


def _spark_eval(spark, expr):
    # The Arrow evaluator implements Spark's DEFAULT (ANSI) semantics
    # — overflow raises, never wraps. Pin ANSI for the comparison so
    # suite ordering (another test toggling the shared session) cannot
    # change which semantics this parity is measured against.
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = _eval_df(spark)
        try:
            return [r.out for r in
                    df.select(expr.to_spark().alias("out")).collect()]
        except Exception:
            return _RAISED
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)


def _arrow_eval(expr):
    try:
        out = eval_arrow_rows(expr, BATCH)
    except Exception:
        return _RAISED
    if isinstance(out, pa.ChunkedArray):
        out = out.combine_chunks()
    if isinstance(out, pa.Scalar):  # pure-literal tree broadcasts
        return [out.as_py()] * len(ROWS)
    return out.to_pylist()


def _close(x, y):
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) or isinstance(y, float):
        return math.isclose(float(x), float(y),
                            rel_tol=1e-12, abs_tol=1e-12)
    return x == y


@settings(
    max_examples=120, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=predicate)
def test_random_predicates_agree_across_engines(spark, expr):
    expr = expr_from_json(expr_to_json(expr))  # transport is lossless
    got_s = _spark_eval(spark, expr)
    got_a = _arrow_eval(expr)
    if got_s is _RAISED or got_a is _RAISED:
        # Both engines must raise together (ANSI overflow parity).
        assert got_s is _RAISED and got_a is _RAISED, (
            f"raise divergence: spark={got_s!r} arrow={got_a!r} "
            f"for {expr!r}"
        )
        return
    assert len(got_s) == len(got_a)
    for i, (xs, xa) in enumerate(zip(got_s, got_a)):
        assert _close(xs, xa), (
            f"row {i}: spark={xs!r} arrow={xa!r} for {expr!r}"
        )


@settings(
    max_examples=80, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=_num_tree(3))
def test_random_value_trees_agree_across_engines(spark, expr):
    expr = expr_from_json(expr_to_json(expr))
    got_s = _spark_eval(spark, expr)
    got_a = _arrow_eval(expr)
    if got_s is _RAISED or got_a is _RAISED:
        assert got_s is _RAISED and got_a is _RAISED, (
            f"raise divergence: spark={got_s!r} arrow={got_a!r} "
            f"for {expr!r}"
        )
        return
    for i, (xs, xa) in enumerate(zip(got_s, got_a)):
        assert _close(xs, xa), (
            f"row {i}: spark={xs!r} arrow={xa!r} for {expr!r}"
        )


def test_reassociable_chains_keep_tree_order(spark):
    """Catalyst reassociates integral +/* chains with literals moved
    last: a * (a * 0) would run as (a * a) * 0 and overflow, and
    ((a * 7) + -50) + a as ((a * 7) + a) + -50. Both stay in range in
    tree order, so neither engine may raise."""
    from space_spark.core.expressions import field, lit

    a = field("a")
    for expr in (a * (a * lit(0)), ((a * lit(7)) + lit(-50)) + a):
        got_s = _spark_eval(spark, expr)
        got_a = _arrow_eval(expr)
        assert got_s is not _RAISED and got_a is not _RAISED, expr
        for xs, xa in zip(got_s, got_a):
            assert _close(xs, xa), expr


def test_float_remainder_by_zero_raises_both_engines(spark):
    """double %% 0.0 RAISES in BOTH engines under the ANSI-default
    session this engine pins: Spark's Remainder extends DivModLike,
    whose eval checks the divisor for zero BEFORE type-specific math —
    REMAINDER_BY_ZERO fires for DoubleType too, not just
    integral/decimal (verified on pyspark 4.1.2; round-12 ADVICE
    suggested NaN, which is the non-ANSI/HIVE behavior). Nonzero float
    remainders must agree in value."""
    from space_spark.core.expressions import field, lit

    zero_div = (field("a") / lit(1.0)) % lit(0.0)
    assert _spark_eval(spark, zero_div) is _RAISED
    assert _arrow_eval(zero_div) is _RAISED

    ok = (field("a") / lit(1.0)) % lit(2.5)
    got_s = _spark_eval(spark, ok)
    got_a = _arrow_eval(ok)
    assert got_s is not _RAISED and got_a is not _RAISED
    for xs, xa in zip(got_s, got_a):
        assert _close(xs, xa)


def test_float_remainder_null_dividend_zero_divisor(spark):
    """Spark's DivModLike short-circuits a NULL dividend to NULL
    BEFORE the ANSI zero-divisor check (SELECT NULL % 0.0D -> NULL),
    so a batch where zero divisors meet ONLY null dividends must not
    raise in the Arrow engine either (round-12 review finding: the
    batch-level pc.any(d == 0) fired regardless of dividend validity).
    A non-null dividend meeting 0.0 still raises in both engines."""
    import pyarrow as pa

    from space_spark.core.expressions import (
        Arith, Field, eval_arrow_rows, field, lit,
    )

    e = Arith("%", Field("q"), Field("d"))
    ok_batch = pa.record_batch({
        "q": pa.array([None, 5.0, None], pa.float64()),
        "d": pa.array([0.0, 2.0, None], pa.float64()),
    })
    out = eval_arrow_rows(e, ok_batch).to_pylist()
    assert out == [None, 1.0, None], out
    bad_batch = pa.record_batch({
        "q": pa.array([5.0], pa.float64()),
        "d": pa.array([0.0], pa.float64()),
    })
    with pytest.raises(ZeroDivisionError):
        eval_arrow_rows(e, bad_batch)
    # Spark side of the same three rows: NULL, 1.0, NULL — no raise.
    rows = spark.sql(
        "SELECT x % y AS r FROM VALUES "
        "(CAST(NULL AS DOUBLE), 0.0D), (5.0D, 2.0D), "
        "(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)) t(x, y)"
    ).collect()
    assert [r.r for r in rows] == [None, 1.0, None]


def test_division_parity_is_double_both_sides(spark):
    """int / int is SQL double division in BOTH engines (pinned
    separately from the random trees because float equality needs the
    approx comparator everywhere once division enters a tree)."""
    from space_spark.core.expressions import field, lit

    e = (field("a") / field("b")) + lit(0.5)
    got_s = _spark_eval(spark, e)
    got_a = _arrow_eval(e)
    for xs, xa in zip(got_s, got_a):
        assert _close(xs, xa)


# ------------------------------------------------- transport fuzzing
json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(), st.floats(),
    st.text(max_size=8),
)
json_values = st.recursive(
    json_scalars,
    lambda child: st.one_of(
        st.lists(child, max_size=3),
        st.dictionaries(
            st.sampled_from(["n", "op", "name", "vt", "v", "l", "r",
                             "c", "junk"]),
            child, max_size=5,
        ),
    ),
    max_leaves=12,
)


@settings(max_examples=300, deadline=None)
@given(node=json_values)
def test_expr_decoder_rejects_or_roundtrips_never_executes(node):
    """The JSON transport is the UNTRUSTED channel (DataSource options
    reachable from SQL): arbitrary JSON must either decode to a closed-
    algebra tree that re-encodes losslessly, or raise ValueError/
    TypeError — never import, exec, or crash the process. (The pickle
    predecessor of this channel was an RCE; this pins the replacement's
    contract under fuzzing, not just the hand-written reject cases.)"""
    import json as _json

    text = _json.dumps(node)
    try:
        expr = expr_from_json(text)
    except (ValueError, TypeError, KeyError):
        return  # rejected cleanly
    # Accepted: must round-trip through the encoder.
    assert expr_to_json(expr)
