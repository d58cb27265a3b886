"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from harness import gen  # noqa: E402
from harness.eventlog import parse  # noqa: E402
from harness.stats import percentile, summarize, tail_pct  # noqa: E402
from harness.trace import Recorder, Span, self_times, union_length  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.json")
START = dt.datetime(2024, 1, 1)


def _inputs(seed: int) -> list[bytes]:
    rng = np.random.default_rng(seed)
    ss = gen.search_set(seed, 50, 4, 8, 0.3)
    return [
        gen.to_bytes(gen.log_records(seed, 500, 20, 1.2, START, 3)),
        gen.to_bytes(gen.query_lines(seed, 2, 20, 1.2, START, 3)),
        gen.to_bytes(gen.datagram_batch(rng, 200, 0, 1_700_000_000_000_000, 20, 1.2)),
        gen.to_bytes(gen.corpus(seed, 60, 0.3, 16)),
        gen.to_bytes(ss),
        gen.to_bytes(gen.search_requests(seed, ss, 5, 0.3)),
    ]


def test_generators_same_seed_same_bytes():
    assert _inputs(7) == _inputs(7)


def test_generators_other_seed_other_bytes():
    for a, b in zip(_inputs(7), _inputs(8)):
        assert a != b


def test_datagram_batch_plants_its_shares():
    rng = np.random.default_rng(1)
    b = gen.datagram_batch(rng, 4000, 100, 1_700_000_000_000_000, 20, 1.2)
    assert len(b.payloads) == 4000
    not_json = sum(1 for p in b.payloads if not p.endswith("}"))
    assert abs(not_json / 4000 - gen.MALFORMED) < 0.01
    assert abs((b.n_malformed - not_json) / 4000 - gen.OVERSIZE) < 0.01
    assert abs(len(b.charged) / 4000 - gen.HTTP_ERROR) < 0.02
    too_big = [p for p in b.payloads if len(p.encode()) >= gen.MAX_DATAGRAM]
    assert too_big and all(int(p.split('"id":')[1].split(",")[0]) not in b.sizes for p in too_big)
    assert len(b.valid_ids) == 4000 - b.n_malformed == len(b.sizes)
    assert set(b.follow_ids) | {i for _, _, i in b.charged} == set(b.valid_ids)


def test_token_bucket_model():
    # burst 10 at rate 1/s: ten messages at one instant pass, the rest
    # drop until the bucket refills one token per second
    charged = [("a", 0, i) for i in range(12)] + [("a", 2_000_000, 99), ("b", 0, 50)]
    assert gen.token_bucket_discards(charged, rate=1.0) == {10, 11}
    # burst 1 at rate 0.1/s: a site's second message in a batch drops
    charged = [("a", 0, 1), ("a", 5, 2), ("b", 0, 3), ("a", 10_000_000, 4)]
    assert gen.token_bucket_discards(charged, rate=0.1) == {2}


def test_corpus_plants_repeats_of_day_one():
    c = gen.corpus(3, 100, 0.3, 16)
    day1 = set(c.day1.text)
    repeats = c.day2[c.day2.doc_id.isin(c.planted_repeats)]
    assert len(repeats) == 30
    exact = repeats[repeats.text.isin(day1)]
    assert len(exact) == 15  # the other half are near copies
    assert not set(c.day2.doc_id) & set(c.day1.doc_id)


@pytest.mark.parametrize("n, pct", [(1, 50), (19, 50), (20, 50), (21, 52), (35, 71),
                                    (100, 90), (1000, 99), (10_000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert tail_pct(n) == pct
    xs = list(range(n))
    if n >= 20:
        assert sum(1 for x in xs if x > percentile(xs, pct)) >= 10


def test_summarize_reports_percentile_and_count():
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["tail_pct"] == 90
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail"] == pytest.approx(90.1)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(1, "root", "op", None, 0.0, 10.0),
        Span(2, "a", "op", 1, 1.0, 4.0),
        Span(3, "b", "op", 1, 3.0, 6.0),  # overlaps a: 1..6 covered once
        Span(4, "c", "op", 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_recorder_nests_spans_and_inherits_op():
    rec = Recorder(enabled=True)
    with rec.span("query", op="q1"):
        with rec.span("query.plan"):
            pass
    spans = {s.name: s for s in rec.spans}
    assert spans["query.plan"].parent == spans["query"].id
    assert spans["query.plan"].op == "q1"
    assert spans["query"].parent is None


def test_recorder_off_records_nothing():
    rec = Recorder(enabled=False)
    with rec.span("query", op="q1") as s:
        assert s is None
    assert rec.spans == []


def test_eventlog_parser_on_fixture():
    log = parse(FIXTURE)
    assert sorted(log.jobs) == [0, 1]
    j0, j1 = log.jobs[0], log.jobs[1]
    assert (j0.group, j0.execution, j0.start_ms, j0.end_ms) == ("pb-1", 0, 1000, 1300)
    assert j0.stages == [0, 1]
    # stage 1 is listed by both jobs; its task belongs to the job that ran it
    assert j0.tasks.tasks == 3 and j1.tasks.tasks == 1
    assert j0.tasks.run_ms == 110 and j0.tasks.cpu_ms == pytest.approx(55.0)
    assert j0.tasks.deserialize_ms == 9 and j0.tasks.gc_ms == 2
    assert j0.tasks.shuffle_write_bytes == 150
    assert j0.tasks.python_ms == 12
    assert (j1.group, j1.execution) == ("pb-2", None)
    assert log.files_read == {0: 3}
    assert log.totals().tasks == 4
    assert set(log.by_group()) == {"pb-1", "pb-2"}


def test_eventlog_parser_reads_a_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    with open(FIXTURE, encoding="utf-8") as src:
        lines = src.readlines()
    (d / "events_1_local-1").write_text("".join(lines[:9]))
    (d / "events_2_local-1").write_text("".join(lines[9:]))
    (d / "appstatus_local-1").write_text("")
    log = parse(str(tmp_path))
    assert sorted(log.jobs) == [0, 1] and log.files_read == {0: 3}
