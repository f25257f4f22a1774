"""Cross-engine contract tests for the curation primitives.

bpe_merge_step assumes `replace` has identical greedy
leftmost-non-overlapping semantics in Python, Spark, and DuckDB;
the JL operators assume the Python-side sign matrix equals the
md5 expression the DuckDB oracle computes.  Pin both."""

from __future__ import annotations

import random

import duckdb
import pyspark.sql.functions as F

from encodesrv_spark.plans import curation

VOCAB = ["a", "b", "ab", "aa", "x", "yz"]


def _cases(n: int = 200) -> list[tuple[str, str, str]]:
    rng = random.Random(13)
    cases = []
    for _ in range(n):
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(0, 12))]
        text = " ".join(toks)
        w1, w2 = rng.choice(VOCAB), rng.choice(VOCAB)
        pair = f"{w1} {w2}"
        cases.append((text, pair, pair.replace(" ", "_")))
    # adversarial overlaps: 'a a a a' with pair 'a a'
    for k in range(1, 6):
        cases.append((" ".join(["a"] * k), "a a", "a_a"))
    return cases


def test_replace_semantics_agree_python_spark_duckdb(spark):
    cases = _cases()
    expected = [t.replace(p, m) for t, p, m in cases]

    df = spark.createDataFrame(cases, "text string, pair string, merged string")
    got_spark = [
        r["out"]
        for r in df.select(
            F.replace("text", "pair", "merged").alias("out")
        ).collect()
    ]
    assert got_spark == expected

    con = duckdb.connect()
    got_duck = [
        con.execute("SELECT replace(?, ?, ?)", [t, p, m]).fetchone()[0]
        for t, p, m in cases
    ]
    assert got_duck == expected


def test_jl_sign_matrix_matches_duckdb_expression():
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT i, j,
               CASE WHEN (('0x' || substr(md5(concat(i::VARCHAR, ':', j::VARCHAR)), 1, 15))::BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM (SELECT unnest(generate_series(1, {curation._JL_D})) AS i),
             (SELECT unnest(generate_series(0, {curation._JL_K - 1})) AS j)
        """
    ).fetchall()
    for i, j, s in rows:
        assert curation._JL_SIGNS[j][i - 1] == s, f"sign mismatch at ({i},{j})"


def test_tokenization_agrees_spark_duckdb():
    """The tokenization contract ~40 oracles rest on: Spark's
    split(text, '\\s+') + empty-filter must equal DuckDB's
    string_split_regex + list_filter for texts with leading/trailing/
    repeated whitespace, tabs, and empty strings.  Generated cases
    cover the edge geometry; exact list equality is asserted."""
    from pyspark.sql import SparkSession

    from encodesrv_spark.functions.text import TOKS_NE_SQL, tokens_ne

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).config("spark.ui.enabled", "false").getOrCreate()
    rng = random.Random(29)
    pieces = ["a", "bb", "ccc", " ", "  ", "\t", ""]
    cases = ["", " ", "  \t ", "a", " a", "a ", " a b  c\td "]
    for _ in range(150):
        cases.append("".join(rng.choice(pieces) for _ in range(rng.randint(1, 10))))

    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i long, text string")
    got_spark = {
        r["i"]: list(r["toks"])
        for r in df.select("i", tokens_ne().alias("toks")).collect()
    }
    con = duckdb.connect()
    con.register("docs_tok", __import__("pandas").DataFrame({"i": range(len(cases)), "text": cases}))
    got_duck = {
        i: list(t)
        for i, t in con.execute(
            f"SELECT i, {TOKS_NE_SQL} AS t FROM docs_tok"
        ).fetchall()
    }
    assert got_spark == got_duck
    # and the Python reference everyone reasons with
    for i, t in enumerate(cases):
        assert got_spark[i] == t.split(), (i, repr(t))


def test_cusum_closed_form_equals_recursion_property():
    """The identity events_cusum is built on — S_t = R_t − min(0,
    min_{τ≤t} R_τ) for the reset recursion S_t = max(0, S_{t−1} + x_t)
    — holds for arbitrary real series (hypothesis-driven, pure
    Python: the algebra the batch/streaming twin pair relies on)."""
    from hypothesis import given, strategies as st

    @given(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=1,
            max_size=200,
        )
    )
    def check(xs):
        s = 0.0
        run = 0.0
        floor = 0.0
        for x in xs:
            s = max(0.0, s + x)
            run += x
            floor = min(floor, run)
            closed = run - min(0.0, floor)
            assert abs(s - closed) < 1e-6 * max(1.0, abs(run))

    check()
