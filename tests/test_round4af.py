"""Unit tests for the round-4af batch (referential audit, script mix)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_referential_audit_clean_fixture(spark):
    rows = {r.fk_edge: r for r in queries_relational.rel_referential_audit(spark, SF).collect()}
    assert set(rows) == {
        f"{c}.{k}" for c, k, _, _ in queries_relational._FK_EDGES
    }
    for edge, r in rows.items():
        assert r.n_orphans == 0, edge  # fixtures are FK-clean
        assert r.n_child_rows > 0


def test_referential_audit_detects_orphans(spark, tmp_path):
    import os

    from ade_agente_documental_empresarial___miner_a_spark.plans import catalog

    # corrupt a copy: drop half the nation parents
    lake = str(tmp_path)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        df = spark.read.parquet(f"{SF}/{t}.parquet")
        if t == "nation":
            df = df.where("n_nationkey < 12")
        df.write.mode("overwrite").parquet(os.path.join(lake, f"{t}.parquet"))
    rows = {r.fk_edge: r for r in queries_relational.rel_referential_audit(spark, lake).collect()}
    assert rows["customer.c_nationkey"].n_orphans > 0
    assert rows["supplier.s_nationkey"].n_orphans > 0
    assert rows["lineitem.l_orderkey"].n_orphans == 0  # untouched edge


def test_script_mix_counts(spark):
    got = {r.row_id: r for r in queries_text.text_script_mix(spark, SF).collect()}
    assert got[1].n_latin == 10 and got[1].n_cyrillic == 0
    assert got[2].n_cyrillic == 9 and got[2].n_latin == 0
    assert got[3].n_han == 3 and got[3].n_latin == 4
    assert got[4].n_digit == 2
    assert got[5].n_latin == got[5].n_cyrillic == 0
