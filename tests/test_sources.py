"""Ingestion source tests (S1-S6) on in-repo literal fixtures."""

import contextlib
import os

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.planstats import (
    num_partitions,
    plan_size_bytes,
)
from ade_agente_documental_empresarial___miner_a_spark.sources import extract
from ade_agente_documental_empresarial___miner_a_spark.sources.extract import (
    binary_scan,
    csv_scan,
    extract_text,
)
from ade_agente_documental_empresarial___miner_a_spark.sources.multimodal import (
    extract_media_features,
    frame_sample_plan,
)
from ade_agente_documental_empresarial___miner_a_spark.sources.sinks import (
    append_chat_history,
    read_chat_history,
    session_transcripts,
)

HTML = b"<html><head><style>p{}</style></head><body><h1>Title</h1><p>Hello &amp; welcome</p></body></html>"
XML = b"<?xml version='1.0'?><root><item>alpha</item><item>beta</item></root>"


def make_files(tmp_path):
    d = tmp_path / "uploads"
    d.mkdir()
    (d / "a.html").write_bytes(HTML)
    (d / "b.xml").write_bytes(XML)
    (d / "c.txt").write_bytes(b"plain text body")
    (d / "d.pdf").write_bytes(b"%PDF-1.4 fake")
    (d / "e.csv").write_text("x,y\n1,hello\n2,world\n")
    return str(d)


def test_binary_scan_mime_dispatch(spark, tmp_path):
    d = make_files(tmp_path)
    df = binary_scan(spark, d)
    mimes = {
        os.path.basename(r.path): r.mime for r in df.select("path", "mime").collect()
    }
    assert mimes["a.html"] == "text/html"
    assert mimes["b.xml"] == "application/xml"
    assert mimes["d.pdf"] == "application/pdf"
    assert mimes["e.csv"] == "text/csv"


def test_extract_text_html_xml_txt(spark, tmp_path):
    d = make_files(tmp_path)
    out = extract_text(binary_scan(spark, d, glob="*.{html,xml,txt}"))
    rows = {os.path.basename(r.path): r for r in out.collect()}
    assert "Title" in rows["a.html"].text and "Hello & welcome" in rows["a.html"].text
    assert "p{}" not in rows["a.html"].text  # style body stripped
    assert "alpha" in rows["b.xml"].text and "beta" in rows["b.xml"].text
    assert rows["c.txt"].text == "plain text body"
    assert all(r.error is None for r in rows.values())


def test_extract_text_pdf_degrades_to_error(spark, tmp_path):
    d = make_files(tmp_path)
    out = extract_text(binary_scan(spark, d, glob="*.pdf"))
    r = out.collect()[0]
    assert r.text is None
    assert r.error is not None  # NotImplementedError captured, job survives


MAX_BYTES = "spark.sql.files.maxPartitionBytes"
OPEN_COST = "spark.sql.files.openCostInBytes"


@contextlib.contextmanager
def sql_conf(spark, **settings):
    """Set session confs for the block, then restore the values before."""
    before = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def small_files(d, n, ext="txt"):
    d.mkdir(exist_ok=True)
    for i in range(n):
        (d / f"f{i:03d}.{ext}").write_bytes(f"small file {i} ".encode() * 8)
    return str(d)


def raw_partitions(spark, path, glob=None):
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return num_partitions(reader.load(path))


def test_binary_scan_sizes_small_files_by_content(spark, tmp_path):
    """Many small files, each its own split (an open cost as large as a
    split, as when thousands of files fill every split), narrow to
    max(cores, ceil(bytes / maxPartitionBytes)) partitions."""
    cores = spark.sparkContext.defaultParallelism
    d = small_files(tmp_path / "many", 2 * cores + 1)
    with sql_conf(spark, **{OPEN_COST: "128m", MAX_BYTES: "128m"}):
        assert raw_partitions(spark, d) == 2 * cores + 1
        scan = binary_scan(spark, d)
        size = plan_size_bytes(spark.read.format("binaryFile").load(d))
        assert size == sum(f.stat().st_size for f in (tmp_path / "many").iterdir())
        want = max(cores, -(-size // (128 << 20)))
        assert want == cores
        assert num_partitions(scan) == want
        assert scan.count() == 2 * cores + 1


def test_binary_scan_never_widens_the_file_splits(spark, tmp_path):
    """With maxPartitionBytes far below the content bytes the rule asks
    for more partitions than the file source made; the source's split
    count is kept."""
    cores = spark.sparkContext.defaultParallelism
    d = small_files(tmp_path / "wide", 2 * cores + 1)
    with sql_conf(spark, **{MAX_BYTES: "16"}):
        raw = raw_partitions(spark, d)
        assert raw == 2 * cores + 1  # one split per file
        assert num_partitions(binary_scan(spark, d)) == raw


def test_binary_scan_sizing_keeps_extracted_rows(spark, tmp_path, monkeypatch):
    """extract_text over the sized scan gives the rows it gives over the
    file source's own splits."""
    cores = spark.sparkContext.defaultParallelism
    d = make_files(tmp_path)
    small_files(tmp_path / "uploads", 2 * cores + 1)
    with sql_conf(spark, **{MAX_BYTES: "64k"}):
        sized = binary_scan(spark, d)
        monkeypatch.setattr(extract, "_content_sized", lambda df: df)
        unsized = binary_scan(spark, d)
        assert num_partitions(sized) == cores < num_partitions(unsized)
        got = sorted(extract_text(sized).collect())
        want = sorted(extract_text(unsized).collect())
    assert got == want and len(got) == 2 * cores + 6


def test_binary_scan_glob_sizes_by_matching_files(spark, tmp_path):
    """A glob scan counts only the files it keeps: a large non-matching
    file would ask for more partitions than there are matching files."""
    cores = spark.sparkContext.defaultParallelism
    n = 2 * cores + 1
    d = small_files(tmp_path / "mixed", n)
    (tmp_path / "mixed" / "big.bin").write_bytes(b"x" * ((n + 2) << 16))
    with sql_conf(spark, **{MAX_BYTES: "64k"}):
        assert raw_partitions(spark, d, glob="*.txt") == n
        matching = sum(
            f.stat().st_size for f in (tmp_path / "mixed").glob("*.txt")
        )
        loaded = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt")
        assert plan_size_bytes(loaded.load(d)) == matching
        scan = binary_scan(spark, d, glob="*.txt")
        assert num_partitions(scan) == cores
        assert scan.count() == n
        # the whole tree, big file included, asks for more than its splits
        assert num_partitions(binary_scan(spark, d)) == raw_partitions(spark, d)


def test_csv_scan_relational_and_serialized(spark, tmp_path):
    d = make_files(tmp_path)
    df = csv_scan(spark, f"{d}/e.csv")
    assert df.columns == ["x", "y"]
    assert df.count() == 2
    lines = [r.line for r in csv_scan(spark, f"{d}/e.csv", serialize=True).collect()]
    assert "1 hello" in lines and "2 world" in lines


def test_chat_sink_roundtrip_and_transcripts(spark, tmp_path):
    path = str(tmp_path / "chat")
    append_chat_history(
        spark,
        [
            ("ana", "hola", "¡hola!", None, 10, 20),
            ("ana", "¿cómo estás?", "bien", None, 12, 24),
            ("luis", "hi", "hello", None, 5, 7),
        ],
        path,
    )
    chat = read_chat_history(spark, path)
    assert chat.count() == 3
    tr = {r.user: r for r in session_transcripts(chat).collect()}
    assert tr["ana"].n_turns == 2
    assert [m.role for m in tr["ana"].messages] == [
        "user", "assistant", "user", "assistant",
    ]
    assert abs(tr["ana"].cost_usd - (22 * 0.00001 + 44 * 0.00003)) < 1e-12
    assert tr["luis"].n_turns == 1


def test_media_features_stub(spark):
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(b"imagebytes")),
            (2, "audio", bytearray(b"audiobytes")),
            (3, "video", bytearray(b"videobytes")),
        ],
        "media_id long, kind string, content binary",
    )
    rows = {r.media_id: r for r in extract_media_features(df).collect()}
    assert rows[1].width is not None and rows[1].duration_ms is None
    assert rows[2].duration_ms is not None and rows[2].width is None
    assert rows[3].width is not None and rows[3].duration_ms is not None
    assert all(len(r.features) == 8 for r in rows.values())
    assert all(r.error is None for r in rows.values())
    # determinism
    again = {r.media_id: r for r in extract_media_features(df).collect()}
    assert rows[1].features == again[1].features


def test_media_real_decode_raises_into_error_column(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"x"))],
        "media_id long, kind string, content binary",
    )
    r = extract_media_features(df, decode_stub=False).collect()[0]
    assert r.error and "NotImplementedError" in r.error


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(3, "video", bytearray(b"videobytes"))],
        "media_id long, kind string, content binary",
    )
    frames = frame_sample_plan(df, every_ms=5000).collect()
    assert len(frames) >= 1
    assert all(f.frame_ts_ms % 5000 == 0 for f in frames)


def test_xlsx_scan_distributed_broken_files_degrade(spark, tmp_path):
    """S5 distributed branch: binaryFile tree scan + per-file mapInPandas
    parse. Broken workbooks (zip magic, no OOXML inside) must degrade to
    exactly one error row each regardless of which parser tier is
    active — the plumbing (scan, batching, schema) is real."""
    from ade_agente_documental_empresarial___miner_a_spark.sources.extract import (
        xlsx_scan_distributed,
    )

    d = tmp_path / "sheets"
    d.mkdir()
    (d / "one.xlsx").write_bytes(b"PK\x03\x04 fake workbook one")
    (d / "two.xlsx").write_bytes(b"PK\x03\x04 fake workbook two")
    (d / "ignore.txt").write_bytes(b"not a workbook")

    out = xlsx_scan_distributed(spark, str(d))
    assert [f.name for f in out.schema.fields] == [
        "path", "sheet", "row_idx", "cells", "error",
    ]
    rows = out.collect()
    assert len(rows) == 2  # one row per xlsx file, txt filtered by glob
    assert all(r.error is not None and r.cells is None for r in rows)
    paths = {r.path.rsplit("/", 1)[-1] for r in rows}
    assert paths == {"one.xlsx", "two.xlsx"}


def test_xlsx_scan_distributed_parses_real_workbook(spark):
    """S5 real branch — executes in THIS container since round 6 via the
    vendored stdlib reader (openpyxl would take over when importable):
    india.xlsx yields its exact 3 sheet rows, stringified cells."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.queries_ingest import (
        FIXTURE_DIR,
    )
    from ade_agente_documental_empresarial___miner_a_spark.sources.extract import (
        xlsx_scan_distributed,
    )

    rows = sorted(
        xlsx_scan_distributed(spark, FIXTURE_DIR).collect(),
        key=lambda r: r.row_idx,
    )
    assert [(r.sheet, r.row_idx, list(r.cells), r.error) for r in rows] == [
        ("Hoja1", 0, ["id", "name"], None),
        ("Hoja1", 1, ["1", "ana"], None),
        ("Hoja1", 2, ["2", "luis"], None),
    ]


def test_india_xlsx_is_real_workbook():
    """The S5 fixture must be a well-formed OOXML zip so the parse
    branch (either tier) is exercised against real structure — the
    oracle pins 3 sheet rows."""
    import zipfile

    from ade_agente_documental_empresarial___miner_a_spark.plans.queries_ingest import (
        FIXTURE_DIR,
    )

    path = f"{FIXTURE_DIR}/india.xlsx"
    with zipfile.ZipFile(path) as z:
        assert z.testzip() is None
        names = set(z.namelist())
        assert {"xl/workbook.xml", "xl/worksheets/sheet1.xml"} <= names
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    assert sheet.count("<row ") == 3


def test_visible_text_parser_semantics():
    """The stdlib-parser S2 branch: hidden-tag bodies skipped (any
    case, nested), entities unescaped, whitespace collapsed — matching
    BeautifulSoup.get_text() behavior on the same markup."""
    from ade_agente_documental_empresarial___miner_a_spark.sources.extract import (
        _strip_markup,
    )

    html = (
        b"<html><head><SCRIPT>var x = '<p>not text</p>';</SCRIPT>"
        b"<style>p{}</style></head>"
        b"<body><h1>A &amp; B</h1><p>5 &lt; 7,&nbsp;ok &#39;q&#39;</p>"
        b"<div>tail</div></body></html>"
    )
    assert _strip_markup(html) == "A & B 5 < 7, ok 'q' tail"


def test_plan_size_bytes_checkpoint_keeps_origin_estimate(spark, tmp_path):
    """A ``localCheckpoint`` keeps the estimate of the plan it
    checkpoints: a parquet read keeps its files' bytes, and
    ``spark.range(1000)`` keeps 8 bytes a row. Only a frame built from
    a Python RDD (``createDataFrame``) has no estimate and reads
    Long.MaxValue, checkpointed or not."""
    path = tmp_path / "rows"
    spark.range(100).selectExpr("id", "cast(id as string) s").write.parquet(str(path))
    read = spark.read.parquet(str(path))
    files = sum(f.stat().st_size for f in path.glob("*.parquet"))
    assert plan_size_bytes(read) == files
    assert plan_size_bytes(read.localCheckpoint()) == files
    assert plan_size_bytes(spark.range(1000).localCheckpoint()) == 8000
    local = spark.createDataFrame([(1, "a")], "id long, s string")
    assert plan_size_bytes(local) == 2**63 - 1
    assert plan_size_bytes(local.localCheckpoint()) == 2**63 - 1
