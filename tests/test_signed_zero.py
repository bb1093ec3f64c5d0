"""Signed-zero discipline (round-10 lesson, VERDICT r10 Next #1-#3).

IEEE-754 zeros carry a sign bit; the driver's value hasher distinguishes
them. DuckDB's ``ROUND`` preserves the sign of a tiny negative quantity
(``ROUND(-4e-9, 6) → -0.0``) while Spark's ``F.round`` (BigDecimal
HALF_UP) always emits ``+0.0`` — value-equal, hash-different. One such
cell turned ``embedding_covariance`` driver-red in round 10 while the
then-lenient local gate stayed green.

Three pins here:
  1. the gate itself (``tools/verify_oracle._norm``) is sign-strict;
  2. the ``unsign_zero`` mechanism works on both engines, including the
     constructed tiny-negative-covariance case that caused the round-10
     failure;
  3. registry-wide audit — NO oracle in the full registry can
     emit a ``-0.0`` cell at the gate's data (run per-oracle on DuckDB;
     the Spark side is covered transitively: every rounded boundary goes
     through ``F.round`` which cannot mint ``-0.0``, and the full
     hardened-gate sweep pins engine==oracle values).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from pyspark.sql import functions as F

from weather_bigquery_lakehouse_spark.functions.numeric import (
    unsign_zero,
    unsign_zero_sql,
)

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _is_neg_zero(v) -> bool:
    return isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0


def _scan_value(v) -> bool:
    """True if v (possibly nested list/tuple) contains a -0.0."""
    if isinstance(v, (list, tuple)):
        return any(_scan_value(x) for x in v)
    return _is_neg_zero(v)


# ---------------------------------------------------------------------------
# 1. The gate is sign-strict on zero
# ---------------------------------------------------------------------------


def test_norm_distinguishes_signed_zero():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from verify_oracle import _norm

    assert _norm(0.0) == "0"
    assert _norm(-0.0) == "-0"
    assert _norm(0.0) != _norm(-0.0)
    # nested containers route through the same normalization
    assert _norm([0.0]) != _norm([-0.0])


# ---------------------------------------------------------------------------
# 2. The unsign mechanism on both engines
# ---------------------------------------------------------------------------


def test_duckdb_round_mints_negative_zero_and_plus_zero_cures_it():
    con = duckdb.connect()
    (raw,) = con.sql("SELECT ROUND(-4e-9, 6)").fetchall()[0]
    assert raw == 0.0 and math.copysign(1.0, raw) < 0, (
        "premise: DuckDB ROUND preserves the zero sign — if this ever "
        "changes, the unsign wraps become no-ops (harmless) and this "
        "pin documents the motivation"
    )
    (cured,) = con.sql(f"SELECT {unsign_zero_sql('ROUND(-4e-9, 6)')}").fetchall()[0]
    assert cured == 0.0 and math.copysign(1.0, cured) > 0


def test_spark_round_never_mints_negative_zero(spark):
    df = spark.range(1).select(
        F.round(F.lit(-4e-9), 6).alias("r"),
        unsign_zero(F.round(F.lit(-4e-9), 6)).alias("u"),
        unsign_zero(F.lit(-0.0)).alias("m"),
        unsign_zero(F.lit(None).cast("double")).alias("n"),
    )
    row = df.collect()[0]
    assert row.r == 0.0 and math.copysign(1.0, row.r) > 0
    assert row.u == 0.0 and math.copysign(1.0, row.u) > 0
    assert row.m == 0.0 and math.copysign(1.0, row.m) > 0
    assert row.n is None  # NULL-transparent


def test_covariance_constructed_negative_zero_cell(spark, tmp_path):
    """Reconstruct the round-10 failure in miniature: a 2-dim corpus whose
    off-diagonal covariance is a tiny NEGATIVE quantity that rounds to
    zero — the engine and the oracle formulation must both emit +0.0."""
    from weather_bigquery_lakehouse_spark import artifacts
    from weather_bigquery_lakehouse_spark.operators.embeddings import (
        embedding_covariance,
    )

    # cov(x0, x1) = -1e-12-ish: two dims, three rows, built so
    # n*G - S0*S1 is a small negative integer in micro-scale units
    rows = [
        (1, [0.000001, -0.000001]),
        (2, [0.0, 0.0]),
        (3, [-0.000001, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    try:
        out = {(r.i, r.j): r.cov for r in embedding_covariance(emb, dim=2).collect()}
    finally:
        artifacts.clear("covariance_stats")
    # premise check: the raw quotient for (0,1) is negative and tiny
    assert all(not _is_neg_zero(v) for v in out.values()), out

    p = tmp_path / "emb.parquet"
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
            }
        ),
        str(p),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{p}')")
    from weather_bigquery_lakehouse_spark.plans.extensions import _SQL_COVARIANCE

    for i, j, cov in con.sql(_SQL_COVARIANCE).fetchall():
        assert not _is_neg_zero(cov), (i, j, cov)
        assert out[(i, j)] == cov, (i, j, out[(i, j)], cov)


def test_spark_round_emulation_matches_f_round(spark):
    """The second rounding-parity class (round-11, found at sf0.001):
    Spark ``F.round`` rounds the double's SHORTEST DECIMAL REPR
    (BigDecimal.valueOf -> Double.toString, HALF_UP) while DuckDB ROUND
    rounds the BINARY value — they diverge whenever an integer-ratio
    quotient is an exact decimal half-way point whose nearest double
    lies below it (708345/22e6 = exactly 0.0321975; binary is below
    half; Spark says 0.032198, plain DuckDB ROUND says 0.032197).
    ``spark_round_sql`` must match ``F.round`` on exactly these
    adversarial values, plus signed zeros and ordinary values."""
    from weather_bigquery_lakehouse_spark.functions.numeric import spark_round_sql

    adversarial = [
        708345 / 22e6,     # the real sf0.001 failure
        0.0321975,         # same value as a literal double
        2.675,             # classic below-half binary at 2 digits
        0.1, 1 / 3, 22 / 7, 1.9999995, 0.9999995, -0.0321975,
        -4.999e-07, -2.5e-07, 0.0, -0.0, 123.4567895,
    ]
    digits = 6
    rows = spark.createDataFrame(
        [(i, v) for i, v in enumerate(adversarial)], "i int, v double"
    )
    got_spark = {
        r.i: r.r
        for r in rows.select(
            "i", (F.round(F.col("v"), digits) + F.lit(0.0)).alias("r")
        ).collect()
    }
    con = duckdb.connect()
    for i, v in enumerate(adversarial):
        (emul,) = con.sql(
            f"SELECT {spark_round_sql(repr(v), digits)}"
        ).fetchall()[0]
        s = got_spark[i]
        assert emul == s and math.copysign(1.0, emul) == math.copysign(1.0, s), (
            v, emul, s
        )


def test_spark_round_emulation_fuzz_integer_ratios(spark):
    """Bulk fuzz of the emulation over the exposed input class: integer
    ratios (every jaccard/frac/mean/covariance output is one). 20k
    deterministic (p, q) pairs — including a dense band engineered to
    land near 6dp half-way points — rounded by Spark F.round in ONE job
    and by the DuckDB emulation in ONE query; every pair must agree
    bit-for-bit including the zero sign."""
    import duckdb as ddb

    from weather_bigquery_lakehouse_spark.functions.numeric import spark_round_sql

    # deterministic congruential streams; the second band constructs
    # q = 2*10^6*k so p/q lands exactly on x.xxxxxx5 decimals often
    pairs = []
    x = 123456789
    for i in range(10_000):
        x = (x * 1103515245 + 12345) % (2**31)
        p = (x % 2_000_001) - 1_000_000  # signed numerators
        q = 1 + (x >> 8) % 5_000_000
        pairs.append((i, p, q))
    for i in range(10_000):
        k = 1 + i % 997
        p = 2 * i + 1              # odd -> p/(2k*1e6) ends in ...5 exactly
        q = 2 * k * 1_000_000
        pairs.append((10_000 + i, p if i % 3 else -p, q))

    df = spark.createDataFrame(pairs, "i long, p long, q long")
    got = {
        r.i: r.r
        for r in df.select(
            "i",
            (
                F.round(F.col("p").cast("double") / F.col("q").cast("double"), 6)
                + F.lit(0.0)
            ).alias("r"),
        ).collect()
    }

    con = ddb.connect()
    con.execute("CREATE TABLE t (i BIGINT, p BIGINT, q BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", pairs)
    expr = spark_round_sql("CAST(p AS DOUBLE) / CAST(q AS DOUBLE)", 6)
    mism = []
    for i, v in con.sql(f"SELECT i, {expr} FROM t").fetchall():
        g = got[i]
        if v != g or math.copysign(1.0, v) != math.copysign(1.0, g):
            mism.append((i, v, g))
    assert not mism, mism[:5]


# ---------------------------------------------------------------------------
# 3. Registry-wide oracle audit: no -0.0 anywhere DuckDB-side
# ---------------------------------------------------------------------------


def _all_oracles() -> dict[str, str]:
    from weather_bigquery_lakehouse_spark.plans import ALL_QUERIES

    return {
        name: spec.oracle
        for name, spec in ALL_QUERIES.items()
        if spec.oracle is not None
    }


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(_all_oracles()))
def test_oracle_emits_no_negative_zero(duck, name):
    """The -0.0 mint is DuckDB-side (Spark F.round can't produce one); run
    every registry oracle at sf0.001 and scan every cell. Data-dependent
    by nature — the structural defense is the `+ 0.0` wrap on every
    negative-capable rounded output; this audit catches a wrap that was
    missed on a column the gate data actually exercises."""
    sql = _all_oracles()[name]
    rel = duck.sql(sql)
    # prepared-plan types, no execution: an oracle with no FLOAT/DOUBLE
    # anywhere in its output schema (incl. nested DOUBLE[]) is
    # structurally -0.0-free — skipping the run keeps the audit's suite
    # cost on the ~40 float-emitting oracles instead of the integer-exact
    # heavies (bpe_vocab alone fetches 148 s of CTEs for an all-integer
    # result)
    types = [str(t).upper() for t in rel.types]
    if not any("DOUBLE" in t or "FLOAT" in t for t in types):
        return
    rows = rel.fetchall()
    offenders = [
        (i, v)
        for i, r in enumerate(rows)
        for v in r
        if _scan_value(v)
    ]
    assert not offenders, f"{name}: -0.0 cells {offenders[:5]}"


# ---------------------------------------------------------------------------
# 4. Rounding-discipline lint (VERDICT r11 Next #5): every ROUND( in every
#    oracle is either the spark_round_sql emulation or an integer
#    quantization (CAST … AS BIGINT). A future entry that rounds a float
#    OUTPUT column with plain ROUND fails here, not in a driver round.
# ---------------------------------------------------------------------------


def test_registry_round_discipline():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from round_lint import lint_registry, lint_sql

    assert lint_registry() == []
    # the lint itself stays sharp: both violation classes are caught
    assert lint_sql("x", "SELECT ROUND(a / b, 6) AS r FROM t")
    assert lint_sql("x", "SELECT CAST(ROUND(a, 4) AS DOUBLE) AS r FROM t")
    # and both sanctioned forms pass
    from weather_bigquery_lakehouse_spark.functions.numeric import spark_round_sql

    assert lint_sql("x", "SELECT CAST(ROUND(a * 1e6) AS BIGINT) AS r FROM t") == []
    assert lint_sql("x", f"SELECT {spark_round_sql('a / b', 6)} AS r FROM t") == []
    # ADVICE r12 false-positive classes are now handled, not conventioned:
    # DuckDB's postfix cast is the same integer quantization …
    assert lint_sql("x", "SELECT ROUND(a * 1e6)::BIGINT AS r FROM t") == []
    # … and ROUND inside literals/comments is invisible to the scan,
    assert lint_sql("x", "SELECT 'ROUND(a, 2)' AS s FROM t") == []
    assert lint_sql("x", "SELECT a -- ROUND(b, 2)\nFROM t") == []
    assert lint_sql("x", "SELECT a /* ROUND(b, 2) */ FROM t") == []
    # while a real violation NEXT TO a literal (incl. the '' escape) and a
    # float postfix cast still fail.
    assert lint_sql("x", "SELECT 'it''s', ROUND(a / b, 6) AS r FROM t")
    assert lint_sql("x", "SELECT ROUND(a, 4)::DOUBLE AS r FROM t")
