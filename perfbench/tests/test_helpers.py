"""Unit tests of the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from corpus import Corpus, malformed_count  # noqa: E402
from stats import beyond, percentile, tail_percentile, warmed_up  # noqa: E402
from tracing import fold_event_log, fold_per_layer, group_per_op  # noqa: E402


def _files(path):
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = Corpus(5, 40), Corpus(5, 40), Corpus(6, 40)
    assert [d.text for d in a.docs] == [d.text for d in b.docs]
    assert [d.text for d in a.docs] != [d.text for d in c.docs]
    assert a.questions(20) == b.questions(20)
    ea = a.write_files(str(tmp_path / "a"))
    eb = b.write_files(str(tmp_path / "b"))
    assert ea == eb
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    names = os.listdir(tmp_path / "a")
    assert sum(n.startswith("bad_") for n in names) == malformed_count(40)
    assert {n.rsplit(".", 1)[1] for n in names} == {"txt", "html", "pdf"}


def test_generator_shapes_the_corpus():
    corpus = Corpus(9, 60)
    sizes = [len(d.text) for d in corpus.docs]
    assert min(sizes) > 1000 and sum(sizes) / len(sizes) > 3000
    assert all(d.sections[0][0].isupper() for d in corpus.docs)
    copies = [d for d in corpus.docs if d.family != d.doc_id]
    assert 0.15 < len(copies) / len(corpus.docs) < 0.45


def test_percentile_needs_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == 50.0
    assert beyond(100, 90) == 10
    assert tail_percentile(values, 90) == 90.0
    assert beyond(99, 90) == 9
    assert tail_percentile(values[:99], 90) is None
    assert tail_percentile(values[:20], 50) == 10.0
    assert tail_percentile(values[:19], 50) is None


def test_warm_up_stops_when_op_time_stops_falling():
    falling = [10.0, 5.0, 4.0, 3.5, 3.0, 2.8, 2.6, 2.4]
    assert not warmed_up(falling)
    flat = falling + [2.4, 2.35, 2.45, 2.4]
    assert warmed_up(flat)
    assert not warmed_up([0.1] * 5)  # less than two 3-second blocks
    # ops longer than a block are judged two at a time
    long_ops = [12.0, 6.0, 4.4, 4.5, 4.4]
    assert not warmed_up(long_ops)
    assert warmed_up(long_ops + [4.5])
    # one slow op in a still-falling curve does not end the warm-up
    assert not warmed_up([12.7, 5.1, 4.4, 4.3, 5.0])


def test_event_log_fold_on_a_tiny_log():
    folded = fold_event_log(os.path.join(HERE, "data", "eventlog_tiny.json"))
    cc5 = folded["operators.dedup.cc@5"]
    assert cc5["jobs"] == 1 and cc5["tasks"] == 3
    assert cc5["cpu_ms"] == pytest.approx(3.5)
    assert cc5["gc_ms"] == 4
    assert cc5["shuffle_bytes"] == 500 and cc5["spill_bytes"] == 96
    assert "perfbench.count@6" in folded  # kept, but not a layer
    assert all("@" in g for g in folded)  # the ungrouped job is dropped
    layers = fold_per_layer(folded)
    assert set(layers) == {"operators.dedup"}
    # op 5: cc + candidates = 2 jobs; op 6: 1 job -> median 1.5
    assert layers["operators.dedup"]["jobs"] == 1.5
    assert group_per_op(folded, "operators.dedup.cc", "jobs") == 1


workloads = pytest.importorskip("workloads")


def test_index_check_rejects_a_tampered_index():
    text = Corpus(3, 1).docs[0].text
    ref_rows = workloads.reference_chunks(text, embed=True)
    rows = [dict(doc_id=1, section=s, para_pos=p, chunk_pos=c, text=t,
                 embedding=e) for s, p, c, t, e in ref_rows]
    ref = {1: ref_rows}
    assert workloads.index_rows_ok(rows, len(rows), ref)
    assert not workloads.index_rows_ok(rows, len(rows) + 1, ref)
    tampered = [dict(r) for r in rows]
    tampered[0]["text"] = tampered[0]["text"] + "x"
    assert not workloads.index_rows_ok(tampered, len(rows), ref)
    tampered = [dict(r) for r in rows]
    tampered[-1]["section"] = "General"
    assert not workloads.index_rows_ok(tampered, len(rows), ref)


def test_turn_and_store_checks_reject_tampered_output():
    from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
        SYSTEM_PROMPT,
        extractive_stub_llm,
    )

    hits = ["First hit. More text", "Second hit"]
    messages = [{"role": "system", "content": SYSTEM_PROMPT},
                {"role": "user", "content": "q0"},
                {"role": "assistant", "content": "a0"},
                {"role": "user", "content": "q1"},
                {"role": "system", "content": "\n".join(hits)}]
    turn = SimpleNamespace(context="\n".join(hits), messages=messages,
                           answer=extractive_stub_llm(messages))
    assert workloads.turn_ok(turn, "q1", hits, past=1)
    assert not workloads.turn_ok(turn, "q1", hits[::-1], past=1)
    assert not workloads.turn_ok(turn, "q1", hits, past=0)
    assert not workloads.turn_ok(
        SimpleNamespace(**{**vars(turn), "answer": "made up"}), "q1", hits, 1)

    rows = [{"turn_id": 1, "message": "q1"}, {"turn_id": 0, "message": "q0"}]
    assert workloads.store_ok(rows, ["q0", "q1"])
    assert not workloads.store_ok(rows, ["q1", "q0"])
    assert not workloads.store_ok(rows[:1], ["q0", "q1"])


def test_lsh_reference_matches_brute_force_on_near_copies():
    corpus = Corpus(4, 60)
    texts = {d.doc_id: d.text for d in corpus.docs}
    want = workloads.lsh_reference(texts)
    assert want  # the corpus has near-copy families
    for (a, b), j in want.items():
        sa, sb = workloads._shingles(texts[a]), workloads._shingles(texts[b])
        assert j == len(sa & sb) / len(sa | sb) >= 0.3
    clusters = dict(workloads.clusters_reference(want))
    copies = [d for d in corpus.docs if d.family != d.doc_id]
    assert copies and all(clusters[d.doc_id] == clusters[d.family]
                          for d in copies)


def test_dedup_check_rejects_dropped_or_tampered_pairs():
    want = {(1, 2): 0.9, (2, 3): 0.5, (5, 7): 0.4}
    got = [(a, b, j) for (a, b), j in want.items()]
    assert workloads.pairs_ok(got, want)
    assert not workloads.pairs_ok(got[1:], want)  # a pair dropped
    assert not workloads.pairs_ok([], want)
    assert not workloads.pairs_ok(got + [(1, 3, 0.45)], want)
    assert not workloads.pairs_ok(got[:-1] + [(5, 7, 0.4 + 1e-9)], want)
    assert not workloads.pairs_ok(got[:-1] + [got[0]], want)  # duplicate
    assert workloads.clusters_reference(want) == [
        (1, 1), (2, 1), (3, 1), (5, 5), (7, 5)]
    assert workloads.clusters_reference(list(want)[1:]) != \
        workloads.clusters_reference(want)


def test_benchmark_json_matches_the_metric_catalogue():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
