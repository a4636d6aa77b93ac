"""Tests of the benchmark's own code: inputs, reference, checker, tracing.

Pure Python — no Spark session is started."""

from __future__ import annotations

import hashlib
import json
import math
import os

import pytest

from perfbench import inputs, layers
from perfbench.reference import Reference, check_topk
from perfbench.tracing import Span, Tracer, parse_event_log, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


# -- inputs ---------------------------------------------------------------------------


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def _corpus_digest(seed: int) -> str:
    c = inputs.make_corpus(seed, n_docs=300)
    return _digest([c.urls, c.texts])


def _stream_digest(seed: int) -> str:
    return _digest([inputs.pattern(seed, i) for i in range(4)])


def test_same_seed_gives_identical_inputs():
    assert _corpus_digest(7) == _corpus_digest(7)
    a, b = inputs.make_corpus(7, n_docs=300), inputs.make_corpus(7, n_docs=300)
    assert a.pages().to_json().encode() == b.pages().to_json().encode()
    assert _stream_digest(7) == _stream_digest(7)
    assert inputs.append_batch(7, 300, 50) == inputs.append_batch(7, 300, 50)


def test_other_seed_gives_other_inputs():
    assert _corpus_digest(7) != _corpus_digest(8)
    assert _stream_digest(7) != _stream_digest(8)


def test_corpus_follows_fixture_rules():
    c = inputs.make_corpus(3, n_docs=1000)
    vocab = set(inputs.WORDS) | {w for p in inputs.PHRASES for w in p.split()}
    lengths = [len(t) for t in c.tokens]
    assert all(10 <= n <= 2000 + 3 for n in lengths)
    assert 100 < sorted(lengths)[len(lengths) // 2] < 250  # LogNormal(5, 0.6) median ≈ 148
    assert all(set(t) <= vocab for t in c.tokens)
    assert sum(any(p in t for p in inputs.PHRASES) for t in c.texts) == 10  # 1%
    assert len(set(c.urls)) == len(c.urls)
    pages = c.pages()
    assert list(pages.columns) == ["url", "warc_ts", "html", "text", "lang"]
    assert all(h == b"<html><body>" + t.encode() + b"</body></html>" for h, t in zip(pages["html"], pages["text"]))


def test_head_terms_dominate():
    counts: dict[str, int] = {}
    for toks in inputs.make_corpus(5, n_docs=500).tokens:
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
    assert counts["w00000"] > counts["w00009"] > counts.get(inputs.WORDS[-1], 0)


def test_stream_blocks_hold_every_shape_with_terms_in_their_bands():
    shapes = [s for s, _ in inputs.pattern(1, 0)]
    assert shapes == [s for s, _ in inputs.pattern(1, 5)]
    assert {"or_head", "term_tail", "not", "phrase", "prox", "nested", "text_phrase"} <= set(shapes)
    q = dict(inputs.pattern(1, 0))
    tail = q["term_tail"][1][0][1]
    assert inputs.TAIL[0] <= int(tail[1:]) < inputs.TAIL[1]
    assert 'text: ~= "multi word sentence"' in inputs.text_query(("phrase", ("multi", "word", "sentence")))


# -- reference and checker --------------------------------------------------------------


def _micro() -> Reference:
    # FIXTURES.md §4.5: "fox", "quick fox", "quick brown fox"
    return Reference(["u1", "u2", "u3"], [["fox"], ["quick", "fox"], ["quick", "brown", "fox"]])


def test_reference_bm25_by_hand():
    ref = _micro()
    ranked = ref.ranked(("or", (("term", "fox"), ("term", "brown"), ("term", "quick"))))
    assert [u for u, _ in ranked] == ["u3", "u2", "u1"]
    # doc u1: only "fox" (df=3, N=3, dl=1, avgdl=2)
    idf = math.log(1.0 + (3 - 3 + 0.5) / (3 + 0.5))
    tf_norm = (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * (1 / 2)))
    assert ranked[2][1] == pytest.approx(idf * tf_norm, rel=1e-15)


def test_reference_boolean_phrase_and_proximity():
    ref = Reference(
        ["a", "b", "c"],
        [["x", "y", "z"], ["y", "x", "q", "q", "z"], ["x", "q", "q", "q", "q", "q", "q", "y"]],
    )
    assert ref.match(("phrase", ("x", "y"))) == {"a"}
    assert ref.match(("prox", ("x", "y"), 1)) == {"a", "b"}
    assert ref.match(("prox", ("x", "y"), 7)) == {"a", "b", "c"}
    assert ref.match(("not", ("term", "x"), ("term", "z"))) == {"c"}
    assert ref.match(("and", (("or", (("term", "z"), ("term", "q"))), ("term", "y")))) == {"a", "b", "c"}
    assert ref.scoring_terms(("not", ("term", "x"), ("term", "z"))) == {"x"}


def test_reference_tracks_appends_and_deletes():
    ref = _micro()
    ref.delete(["u3"])
    assert ref.match(("term", "brown")) == set()
    ref.add(["u4"], [["brown", "cow"]])
    assert ref.match(("term", "brown")) == {"u4"}
    ref.add(["u1"], [["cow"]])  # upsert replaces the old text
    assert ref.match(("term", "fox")) == {"u2"}
    assert ref.urls == ["u1", "u2", "u4"]


def test_checker_accepts_the_reference_itself():
    ranked = [("u1", 3.0), ("u2", 2.0), ("u3", 1.0)]
    assert check_topk(ranked[:2], ranked, 2) is None


def test_checker_flags_a_perturbed_score():
    ranked = [("u1", 3.0), ("u2", 2.0), ("u3", 1.0)]
    got = [("u1", 3.0), ("u2", 2.0 * (1 + 1e-7))]
    assert "score" in check_topk(got, ranked, 2)


def test_checker_flags_a_swapped_doc():
    ranked = [("u1", 3.0), ("u2", 2.0), ("u3", 1.0)]
    assert check_topk([("u2", 3.0), ("u1", 2.0)], ranked, 2) is not None
    # a doc from outside the top-k standing in at an equal score
    assert check_topk([("u1", 3.0), ("u3", 2.0)], ranked, 2) is not None


def test_checker_allows_ties_in_either_order_and_flags_count():
    ranked = [("u1", 3.0), ("u2", 2.0), ("u3", 2.0)]
    assert check_topk([("u1", 3.0), ("u3", 2.0)], ranked, 2) is None
    assert check_topk([("u1", 3.0)], ranked, 2) is not None
    assert check_topk([("u1", 3.0), ("u1", 3.0)], ranked, 2) is not None


# -- tracing ----------------------------------------------------------------------------


def test_event_log_parser_on_recorded_fixture():
    with open(os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl")) as f:
        groups = parse_event_log(f)
    assert set(groups) == {None, "span-2"}
    plain, span = groups[None], groups["span-2"]
    assert (plain.jobs, plain.tasks, plain.failed_tasks) == (1, 3, 0)
    assert plain.run_s == pytest.approx((3311 + 3285 + 3451) / 1e3)
    assert plain.gc_s == pytest.approx((51 + 51 + 61) / 1e3)
    assert plain.shuffle_write_bytes == 145 + 148 + 202
    assert plain.records_read == 12
    # duration − run − deserialize − result serialization
    assert plain.sched_delay_s == pytest.approx((39 + 59 + 26) / 1e3)
    assert plain.heaviest_stage_skew() == pytest.approx(3.608 / 3.468)
    assert (span.jobs, span.tasks) == (1, 1)
    assert span.sched_delay_s == pytest.approx(6 / 1e3)


def test_event_log_parser_counts_failed_tasks():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": True}}),
    ]
    assert parse_event_log(lines)["g"].failed_tasks == 1


def test_tracer_records_parents_and_requests():
    tr = Tracer(enabled=True)
    with tr.span("request", request=4):
        with tr.span("engine.search.not"):
            pass
    with tr.span("setup"):
        pass
    req, child, setup = tr.spans
    assert child.parent == req.id and child.request == 4
    assert setup.parent is None and setup.request is None
    assert all(s.end >= s.start for s in tr.spans)
    tr.enabled = False
    with tr.span("ignored"):
        pass
    assert len(tr.spans) == 3


def test_self_time_subtracts_children():
    spans = [Span(0, "request", None, 1, 0.0, 10.0), Span(1, "wand.search.and", 0, 1, 1.0, 7.0)]
    assert self_times(spans) == {"request": 4.0, "wand.search.and": 6.0}


# -- the benchmark's declaration --------------------------------------------------------


def test_benchmark_json_matches_the_metric_catalog():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == list(layers.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [p[:3] for p in layers.PER_LAYER]
    assert [w["name"] for w in bench["workloads"]] == list(layers.OPERATION)
