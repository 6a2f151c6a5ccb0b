"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re

import pyarrow.parquet as pq
import pytest

import datagen
import stats
from spans import Span, Tracer, self_time
from workloads import WORKLOADS, families

BENCHMARK_JSON = os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")
# A metric or workload name starts with a letter or digit and holds at
# most 64 letters, digits, '_', '.' and '-'; a unit at most 16 of
# letters, digits, '_', '/', '%', '.' and '-'.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


# -- spread figures ----------------------------------------------------------
def test_iqr_share_matches_quartiles():
    assert stats.iqr_share([1.0] * 10) == 0.0
    assert stats.iqr_share([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


def test_spread_is_range_over_median():
    assert stats.spread([254, 417, 300]) == pytest.approx((417 - 254) / 300)
    assert stats.spread([0, 0]) == 0.0


# -- span self time ----------------------------------------------------------
def test_self_time_subtracts_union_of_children():
    parent = Span(0, "p", 0.0, 10.0, None)
    kids = [
        Span(1, "a", 1.0, 3.0, 0),
        Span(2, "b", 2.0, 5.0, 0),  # overlaps a: counted once
        Span(3, "c", 8.0, 12.0, 0),  # runs past the parent: clipped
        Span(4, "d", 20.0, 21.0, 0),  # outside the parent: ignored
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 2)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_links_parents_and_skips_when_disabled():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner"):
            with tr.span("leaf"):
                pass
    with tr.span("sibling"):
        pass
    assert [s.parent for s in tr.spans] == [None, outer.id, 1, None]
    assert [s.name for s in tr.descendants(outer.id)] == ["inner", "leaf"]
    assert tr.self_time(outer) <= outer.duration
    tr.enabled = False
    with tr.span("ignored"):
        pass
    assert len(tr.spans) == 4


# -- metric names ------------------------------------------------------------
def test_benchmark_json_names_and_units_are_well_formed():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"] + spec["per_layer"]
    names += [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    assert all(NAME_RE.fullmatch(n) for n in names)
    assert all(UNIT_RE.fullmatch(m["unit"]) for m in metrics)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == setup[0]["bound"]


def test_per_layer_names_match_what_a_traced_run_reports():
    from etl_spark_eks_spark import registry
    from worker import layer_units

    registry.load_all()
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert want == layer_units(families(registry))
    for w in WORKLOADS.values():
        assert all(k in registry.ORACLES for k in w.queries)


@pytest.mark.parametrize("bad", ["", "_x", "a b", "x" * 65, "a/b", "é"])
def test_invalid_names_are_rejected(bad):
    assert not NAME_RE.fullmatch(bad)


# -- seeded inputs -----------------------------------------------------------
def _replica(tmp_path, tag: str, seed: int) -> str:
    return datagen.build_replica(datagen.FIXTURES, str(tmp_path / tag), seed, mult=2)


def test_same_seed_gives_identical_replica(tmp_path):
    a = _replica(tmp_path, "a", 7)
    b = _replica(tmp_path, "b", 7)
    files = sorted(os.listdir(a))
    assert files == sorted(os.listdir(b)) == sorted(os.listdir(datagen.FIXTURES))
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors


def test_new_seed_changes_salt_and_signs(tmp_path):
    a = _replica(tmp_path, "a", 7)
    c = _replica(tmp_path, "c", 8)
    base = pq.read_table(os.path.join(datagen.FIXTURES, "documents.parquet")).to_pylist()
    docs_a = pq.read_table(os.path.join(a, "documents.parquet")).to_pylist()
    docs_c = pq.read_table(os.path.join(c, "documents.parquet")).to_pylist()
    n = len(base)
    assert len(docs_a) == 2 * n and docs_a[:n] == base
    suffix = lambda rows: {w.rsplit("_", 1)[1] for r in rows[n:] for w in r["text"].split()}  # noqa: E731
    assert len(suffix(docs_a)) == 1 and suffix(docs_a) != suffix(docs_c)
    # copy 1 keeps copy 0's duplicate structure exactly
    strip = lambda t: " ".join(w.rsplit("_", 1)[0] for w in t.split())  # noqa: E731
    assert [strip(r["text"]) for r in docs_a[n:]] == [r["text"] for r in base]
    emb = pq.read_table(os.path.join(a, "embeddings.parquet")).to_pylist()
    emb_c = pq.read_table(os.path.join(c, "embeddings.parquet")).to_pylist()
    m = len(emb) // 2
    for r0, r1 in zip(emb[:m], emb[m:]):
        assert [abs(x) for x in r0["embedding"]] == [abs(x) for x in r1["embedding"]]
    assert [r["embedding"] for r in emb[m:]] != [r["embedding"] for r in emb_c[m:]]
