"""Connector-path test for the Mongo chat sink (SURVEY §2.1 S6).

The reference persists each chat turn with ``insert_one`` into
``db-historial-chats/coleccion-histochats`` (micro-infobot/app.py:54-71).
The engine's ``append_chat_history`` is parquet-native by default and
routes through ``df.write.format("mongodb")`` when
``spark.ade.mongo.uri`` is set. The real mongo-spark connector cannot
run in this hermetic container, so this test registers a MOCK ``mongodb``
data source through the same Spark-4 Python DataSource API a real
connector uses — the DataFrame genuinely travels the
``format("mongodb").option(...).save()`` path, per-partition writer
tasks receive the rows, and the commit hook sees every task's message.
What is being verified is the ENGINE's branch: URI gating, option
propagation (database/collection names from the reference), append
mode, and that nothing is written to the parquet path when the
connector is active.
"""

import json
import os

import pytest

from ade_agente_documental_empresarial___miner_a_spark.sources.sinks import (
    append_chat_history,
)


def _register_mock_mongodb(spark):
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Commit(WriterCommitMessage):
        def __init__(self, staged, n_rows):
            self.staged = staged
            self.n_rows = n_rows

    class MockMongoWriter(DataSourceWriter):
        """Doc-store mimic: each task stages its partition as JSONL
        'documents' under <uri-path>/<database>/<collection>/; commit
        renames staged files and records a manifest — the same
        two-phase task-temp + driver-rename contract the real
        connector's bulk writes sit behind."""

        def __init__(self, options, schema):
            uri = options.get("connection.uri", "")
            if not uri.startswith("mock://"):
                raise ValueError(f"mock mongodb: bad uri {uri!r}")
            self.root = os.path.join(
                uri[len("mock://"):],
                options.get("database", "test"),
                options.get("collection", "test"),
            )
            self.fields = [f.name for f in schema.fields]

        def write(self, iterator):
            import uuid

            os.makedirs(self.root, exist_ok=True)
            staged = os.path.join(
                self.root, f"docs-{uuid.uuid4().hex[:12]}.jsonl.tmp"
            )
            n = 0
            with open(staged, "w", encoding="utf-8") as fh:
                for row in iterator:
                    doc = {
                        f: (str(row[i]) if row[i] is not None else None)
                        for i, f in enumerate(self.fields)
                    }
                    fh.write(json.dumps(doc, ensure_ascii=False) + "\n")
                    n += 1
            return _Commit(staged, n)

        def commit(self, messages):
            total = 0
            for m in messages:
                os.rename(m.staged, m.staged[: -len(".tmp")])
                total += m.n_rows
            with open(os.path.join(self.root, "_MANIFEST.json"), "w") as fh:
                json.dump({"inserted": total}, fh)

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)

    class MockMongoDataSource(DataSource):
        @classmethod
        def name(cls):
            return "mongodb"

        def writer(self, schema, overwrite):
            return MockMongoWriter(self.options, schema)

    spark.dataSource.register(MockMongoDataSource)


@pytest.fixture
def mongo_uri(spark, tmp_path):
    _register_mock_mongodb(spark)
    store = str(tmp_path / "mongostore")
    spark.conf.set("spark.ade.mongo.uri", f"mock://{store}")
    yield store
    spark.conf.unset("spark.ade.mongo.uri")


def _read_docs(collection_dir):
    docs = []
    for name in sorted(os.listdir(collection_dir)):
        if name.endswith(".jsonl"):
            with open(os.path.join(collection_dir, name)) as fh:
                docs.extend(json.loads(line) for line in fh)
    return docs


def test_uri_gating_routes_to_connector_not_parquet(
    spark, mongo_uri, tmp_path
):
    import datetime as dt

    pq_path = str(tmp_path / "chatpq")
    append_chat_history(
        spark,
        [
            ("ana", "hola", "respuesta", dt.datetime(2026, 1, 1, 12), 3, 2),
            ("luis", "otra", "salida", dt.datetime(2026, 1, 1, 13), 5, 4),
        ],
        pq_path,
    )
    # reference database/collection names (app.py:54-58) propagate as
    # writer options
    coll = os.path.join(
        mongo_uri, "db-historial-chats", "coleccion-histochats"
    )
    docs = _read_docs(coll)
    assert {d["user"] for d in docs} == {"ana", "luis"}
    assert {d["message"] for d in docs} == {"hola", "otra"}
    # full D4 schema travels through the connector, turn_id included
    assert set(docs[0]) == {
        "user", "message", "response", "ts",
        "prompt_tokens", "completion_tokens", "turn_id",
    }
    with open(os.path.join(coll, "_MANIFEST.json")) as fh:
        assert json.load(fh)["inserted"] == 2
    # connector active → nothing lands on the parquet path
    assert not os.path.exists(pq_path)
    # the sink's timestamp contract holds THROUGH the connector branch:
    # naive inputs are interpreted in the session tz (UTC here) and the
    # persisted instant is UTC-normalized — the r6 tz-shift bug class
    # must not regress on this branch either
    ts_by_user = {d["user"]: d["ts"] for d in docs}
    assert ts_by_user["ana"].startswith("2026-01-01 12:00:00")
    assert ts_by_user["luis"].startswith("2026-01-01 13:00:00")


def test_unset_uri_falls_back_to_parquet(spark, tmp_path):
    import datetime as dt

    assert spark.conf.get("spark.ade.mongo.uri", None) is None
    pq_path = str(tmp_path / "chatpq")
    append_chat_history(
        spark,
        [("ana", "hola", "re", dt.datetime(2026, 1, 1, 12), 1, 1)],
        pq_path,
    )
    assert os.path.exists(pq_path)


def test_database_and_collection_settings_reach_the_connector(
    spark, mongo_uri, tmp_path
):
    """``spark.ade.mongo.db`` / ``spark.ade.mongo.collection`` (reported by
    ``session.config_source``) name the connector's target; unset, the
    reference's names apply (the test above)."""
    import datetime as dt

    spark.conf.set("spark.ade.mongo.db", "audit-db")
    spark.conf.set("spark.ade.mongo.collection", "turns")
    try:
        append_chat_history(
            spark,
            [("ana", "hola", "re", dt.datetime(2026, 1, 1, 12), 1, 1)],
            str(tmp_path / "chatpq"),
        )
    finally:
        spark.conf.unset("spark.ade.mongo.db")
        spark.conf.unset("spark.ade.mongo.collection")
    docs = _read_docs(os.path.join(mongo_uri, "audit-db", "turns"))
    assert [d["message"] for d in docs] == ["hola"]
    assert not os.path.exists(os.path.join(mongo_uri, "db-historial-chats"))
