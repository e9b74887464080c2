"""Unit tests for the round-4w batch (k-anonymity, release manifest,
unicode battery)."""

import hashlib

import duckdb

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_k_anonymity_flags_small_groups(spark):
    rows = queries_curation.cur_k_anonymity(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.min_group_size >= 1
        if r.min_group_size >= queries_curation._K_ANON:
            assert r.n_below_k == 0
        else:
            assert r.n_below_k >= 1


def test_release_manifest_digest_recomputable(spark):
    out = {r.source: r for r in queries_curation.cur_release_manifest(spark, SF).collect()}
    ids = duckdb.sql(
        f"""SELECT source, list(doc_id ORDER BY doc_id)
            FROM read_parquet('{SF}/documents.parquet') GROUP BY source"""
    ).fetchall()
    for source, doc_ids in ids:
        expect = hashlib.md5(
            ",".join(str(i) for i in sorted(doc_ids)).encode()
        ).hexdigest()
        assert out[source].content_digest == expect
        assert out[source].n_docs == len(doc_ids)


def test_unicode_battery_semantics(spark):
    got = {r.row_id: r for r in queries_text.func_unicode_battery(spark, SF).collect()}
    # codepoints vs bytes on multibyte rows
    assert got[2].n_codepoints == len("café crème")
    assert got[2].n_bytes == len("café crème".encode())
    assert got[4].n_codepoints == 7
    assert got[4].n_bytes == 21  # 7 CJK chars x 3 bytes
    assert got[2].upped == "CAFÉ CRÈME"
    # substr slices codepoints, never mid-sequence
    assert got[4].mid_slice == "本語テキス"
