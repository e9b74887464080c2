"""Unit tests for the round-4q batch (regex battery, listagg, higher
moments, Bellman-Ford)."""

import duckdb
from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_graph,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_regex_subset_agrees_across_engines(spark):
    """The battery's patterns evaluate identically under Java regex
    (Spark) and RE2 (DuckDB) on adversarial-ish inputs: boundary
    behavior, empty matches, unicode-adjacent ASCII."""
    samples = [
        "The Quick brown Fox",
        "no caps here",
        "ALLCAPS THEN lower",
        "hyphen-ated Words And2 numbers99x",
        "",
        "Aa Bb Cc",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = df.select(
        "text",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+"), 0)).alias(
            "lower"
        ),
        F.size(
            F.regexp_extract_all("text", F.lit(r"\b[A-Z][a-z]*"), 0)
        ).alias("caps"),
        F.regexp_extract("text", r"[a-zA-Z]{8,}", 0).alias("long"),
    ).collect()
    con = duckdb.connect()
    for r in got:
        lo, ca, lg = con.execute(
            r"""SELECT len(regexp_extract_all(?, '[a-z]+')),
                   len(regexp_extract_all(?, '\b[A-Z][a-z]*')),
                   regexp_extract(?, '[a-zA-Z]{8,}')""",
            [r.text, r.text, r.text],
        ).fetchone()
        assert (r.lower, r.caps, r.long) == (lo, ca, lg), r.text


def test_listagg_order_is_deterministic(spark):
    rows = [(1, f"n{i:02d}") for i in range(20)]
    import random

    rng = random.Random(3)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    for data in (rows, shuffled):
        df = spark.createDataFrame(
            data, "s_nationkey int, s_name string"
        ).repartition(8)
        out = (
            df.groupBy("s_nationkey")
            .agg(
                F.expr(
                    "listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)"
                ).alias("lst")
            )
            .collect()[0]
            .lst
        )
        assert out == ",".join(sorted(n for _, n in rows))


def test_higher_moments_match_numpy(spark):
    import numpy as np

    out = {
        r.l_returnflag: r for r in queries_relational.rel_higher_moments(spark, SF).collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT l_returnflag, list(l_quantity)
            FROM read_parquet('{SF}/lineitem.parquet')
            GROUP BY l_returnflag"""
    ).fetchall()
    for flag, vals in rows:
        x = np.array(vals, dtype=float)
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        m3 = ((x - m) ** 3).mean()
        m4 = ((x - m) ** 4).mean()
        r = out[flag]
        assert abs(r.mean_qty - m) < 1e-6
        assert abs(r.skewness_qty - m3 / m2**1.5) < 1e-6
        assert abs(r.kurtosis_qty - (m4 / m2**2 - 3)) < 1e-6


def test_bellman_ford_prefers_cheap_two_hop(spark):
    # direct 0->2 costs 10; 0->1->2 costs 3+4=7; also 2->3 beyond
    edges = spark.createDataFrame(
        [
            (0, 1, "3.00"),
            (1, 2, "4.00"),
            (0, 2, "10.00"),
            (2, 3, "1.00"),
        ],
        "src int, dst int, w string",
    ).select("src", "dst", F.col("w").cast("decimal(18,2)").alias("w"))
    dist0 = spark.createDataFrame([(0,)], "node int").select(
        "node", F.lit("0").cast("decimal(20,2)").alias("dist")
    )
    got = {
        r.node: float(r.dist)
        for r in queries_graph.bellman_ford(edges, dist0, rounds=4).collect()
    }
    assert got == {0: 0.0, 1: 3.0, 2: 7.0, 3: 8.0}


def test_bellman_ford_round_limit(spark):
    edges = spark.createDataFrame(
        [(0, 1, "1.00"), (1, 2, "1.00"), (2, 3, "1.00")],
        "src int, dst int, w string",
    ).select("src", "dst", F.col("w").cast("decimal(18,2)").alias("w"))
    dist0 = spark.createDataFrame([(0,)], "node int").select(
        "node", F.lit("0").cast("decimal(20,2)").alias("dist")
    )
    got = {
        r.node: float(r.dist)
        for r in queries_graph.bellman_ford(edges, dist0, rounds=2).collect()
    }
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}  # node 3 needs a 3rd round
