"""Unit tests for the round-4aq batch (gzip JSONL, bitwise battery)."""

import glob
import os

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_ingest,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_gzip_roundtrip_files_are_gz_shards(spark):
    df = queries_ingest.s20_jsonl_gzip_roundtrip(spark, SF)
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert df.count() == n
    parts = glob.glob(os.path.join(queries_ingest._gz_dir(SF), "*.json.gz"))
    assert len(parts) == 8  # shard count == future read parallelism
    # the files really are gzip (magic bytes)
    with open(parts[0], "rb") as f:
        assert f.read(2) == b"\x1f\x8b"


def test_bitwise_semantics(spark):
    got = {r.row_id: r for r in queries_text.func_bitwise_battery(spark, SF).collect()}
    assert got[1].bit_and == (0b10101100 & 0b01100110)
    assert got[1].bit_or == (0b10101100 | 0b01100110)
    assert got[1].bit_xor == (0b10101100 ^ 0b01100110)
    assert got[2].shl3 == 255 << 3
    assert got[3].shl3 is None          # negative left-shift: not portable
    assert got[3].shr2 == -8 >> 2       # arithmetic: -2
    assert got[3].popcount_a == 61      # two's-complement popcount
    assert got[5].popcount_a == bin(2**40 + 7).count("1")
