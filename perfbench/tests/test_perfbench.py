"""Tests of the benchmark's own machinery: generator determinism, span
self-time arithmetic, and the correctness checker. None starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from check import Checker, diff_store, text_hash
from gen import FORMS, PAGE_SIZE, PayloadGen
from probe import Span, persistent_rss_mb, self_times
from workloads import RATES


def _payloads(seed: int) -> list:
    g = PayloadGen(seed, RATES["upsert_stream"])
    base = g.fresh(300)
    return [base.payloads] + [g.micro_batch(base.articles, form).payloads for form in FORMS]


def test_same_seed_gives_byte_identical_payloads():
    a, b = _payloads(7), _payloads(7)
    assert a == b
    assert _payloads(8) != a
    # every form is present, so all three parsers are exercised
    assert all(a[0][form] for form in FORMS)


def test_micro_batch_is_one_page_with_planted_work():
    g = PayloadGen(3, RATES["upsert_stream"])
    stored = g.fresh(300).articles
    stored_keys = {a.key for a in stored}
    for form in FORMS:
        b = g.micro_batch(stored, form)
        assert len(b.payloads[form]) == 1 and len(b.articles) == PAGE_SIZE[form]
        assert {a.form for a in b.articles} == {form}
        revised = [a for a in b.articles if a.key in stored_keys and a.key not in b.resent_keys]
        assert len(revised) == round(PAGE_SIZE[form] * 0.6)
        assert b.resent_keys <= stored_keys and len(b.resent_keys) == round(PAGE_SIZE[form] * 0.1)
        assert b.planted_pairs


def _span(sid, parent, start, end):
    return Span(sid, "layer", f"s{sid}", parent, None, start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    # nested spans: self times add up to the root's duration
    assert sum(st.values()) == 10.0


def test_self_time_merges_overlaps_and_clips_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1
        _span(3, 0, 8.0, 12.0),  # runs past its parent
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 2.0)


def test_rss_counts_only_processes_seen_twice():
    # pid 3 appears in one sample only, like a spawn child that still
    # reports its parent's RSS
    assert persistent_rss_mb({1: 1024, 2: 2048, 3: 4096}, {1: 1024, 2: 1024}) == 3.0


def _store(tmp_path, rows: dict[str, str]) -> str:
    path = str(tmp_path / "part-0.parquet")
    pq.write_table(pa.table({"unique_identifier": list(rows), "text_hash": list(rows.values())}), path)
    return path


def test_dropped_row_is_counted_as_failed(tmp_path):
    g = PayloadGen(5, RATES["upsert_stream"])
    want = {a.key: text_hash(a) for a in g.fresh(20).articles}
    chk = Checker()
    try:
        chk.snapshot([_store(tmp_path, want)])
        assert chk.run("complete", lambda: diff_store(chk, want))
        dropped = dict(list(want.items())[1:])
        chk.snapshot([_store(tmp_path, dropped)])
        assert not chk.run("one row dropped", lambda: diff_store(chk, want))
        assert not chk.run("raises", lambda: 1 / 0)
        assert (chk.attempted, chk.failed) == (3, 2)
    finally:
        chk.close()


def test_stale_revision_is_counted_as_failed(tmp_path):
    g = PayloadGen(6, RATES["upsert_stream"])
    arts = g.fresh(10).articles
    want = {a.key: text_hash(a) for a in arts}
    stale = dict(want)
    stale[arts[0].key] = text_hash(g.revision(arts[0]))
    chk = Checker()
    try:
        chk.snapshot([_store(tmp_path, stale)])
        assert not chk.run("stale", lambda: diff_store(chk, want))
    finally:
        chk.close()


def test_exact_copy_under_new_key_is_a_near_dup():
    g = PayloadGen(9, RATES["upsert_stream"])
    a, b = g.fresh(2).articles
    b.form, b.title, b.body = a.form, a.title, a.body  # same text, different source id
    chk = Checker()
    try:
        dropped = chk.near_dup_drops({a.key: a.text, b.key: b.text})
    finally:
        chk.close()
    assert dropped == {max(a.key, b.key)}
