"""Tiny-scale self-tests of the benchmark itself.

    python3 -m pytest benchmark/test_benchmark.py -q

They check that the generators are deterministic, that verification
catches a corrupted output, that the metric names the harness emits are
exactly those BENCHMARK.json declares, and that traced spans form one
well-parented tree per pass.  The Spark tests start one local session
and run every workload once at the "tiny" scale (about a minute).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE]

import run  # noqa: E402

run.hermetic_env()

import gen  # noqa: E402
import harness  # noqa: E402
import workloads as wl  # noqa: E402

SELFTEST = os.path.join(run.WORK, "selftest")
PARTS = [cls for parts in wl.WORKLOADS.values() for cls in parts]


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            h.update(os.path.relpath(os.path.join(d, n), path).encode())
            with open(os.path.join(d, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generators_are_deterministic(name):
    roots = [os.path.join(SELFTEST, f"gen{i}") for i in range(3)]
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)
    a, props = gen.ensure(name, "tiny", 5, roots[0])
    b, _ = gen.ensure(name, "tiny", 5, roots[1])
    c, _ = gen.ensure(name, "tiny", 6, roots[2])
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert props["seed"] == 5 and props["input_bytes"] > 0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert harness.tail([1.0, 2.0, 3.0]) == (2.0, 50.0, 3)
    value, pct, n = harness.tail([float(i) for i in range(100)])
    assert (value, pct, n) == (89.0, 90.0, 100)


def test_job_outside_span_is_measured():
    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 2.0, "end": 4.0}]
    inside = {0: {"job_intervals": [(0.5, 1.5)]},
              1: {"job_intervals": [(2.5, 3.5)]}}
    assert harness.job_outside_s(spans, inside) == 0.0
    # a job attributed to the parent that ran while its child was open,
    # and one attributed to the child that outlived it
    misplaced = {0: {"job_intervals": [(2.5, 3.5)]},
                 1: {"job_intervals": [(3.5, 5.0)]}}
    assert harness.job_outside_s(spans, misplaced) == pytest.approx(2.0)


def test_end_to_end_names_match_declaration():
    spec = run.declared()
    passes = [{"seconds": 2.0, "ok": True, "traced": False, "rss_mb": 10.0,
               "batches": [{"trigger_s": 0.5}, {"trigger_s": 0.7}]}]
    values, _ = run.end_to_end(passes, 1.0)
    assert set(values) == set(spec["end_to_end"])


@pytest.fixture(scope="module")
def traced():
    """One tiny traced run of every workload part; the session stays up
    until the module's tests are done (verification queries it)."""
    shutil.rmtree(os.path.join(SELFTEST, "data"), ignore_errors=True)
    parts = []
    for cls in PARTS:
        data, props = gen.ensure(cls.name, "tiny", 3,
                                 os.path.join(SELFTEST, "data"))
        parts.append(cls(data, props, os.path.join(SELFTEST, "out", cls.name)))
    session = harness.Session(run.WORK, 2)
    try:
        result = harness.measure(session, wl.Composite("all", parts), 0,
                                 traced=True)
        yield {"parts": {p.name: p for p in parts}, "result": result,
               "layers": harness.layer_metrics(result, session)}
    finally:
        session.stop()


def test_tiny_passes_verify(traced):
    passes = traced["result"]["passes"]
    assert [p["traced"] for p in passes] == [False, True, False]
    assert all(p["ok"] for p in passes), [p.get("mismatches") for p in passes]


def test_layer_names_match_declaration(traced):
    assert set(traced["layers"]) == set(run.declared()["per_layer"])


def test_spans_form_a_tree_per_pass(traced):
    spans = traced["result"]["tracer"].spans
    harness.check_tree(spans)
    traced_passes = {p["pass"] for p in traced["result"]["passes"]
                     if p["traced"]}
    roots = [s for s in spans if s["parent"] is None]
    assert {s["pass"] for s in roots} == traced_passes
    assert len(roots) == len(traced_passes)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s
        while p["parent"] is not None:
            p = by_id[p["parent"]]
        assert p["layer"] == "bench" and p["name"] == "pass"


def test_typed_jobs_and_raise_casts(traced):
    layers = traced["layers"]
    assert layers["types.typed_jobs"] == 0  # detect/typecheck are O(1)
    assert layers["convert.jobs_per_raise_cast"] >= 1


def test_corrupted_typed_output_is_caught(traced):
    part = traced["parts"]["typed_ingest"]
    back, filtered, ok_type, union = part.last_output
    assert part.verify(back, filtered, ok_type, union) == []
    assert part.verify(back, {**filtered, "rows": filtered["rows"] + 1},
                       ok_type, union)
    assert part.verify(back, filtered, ok_type, list(union)[:1])


def test_corrupted_curation_output_is_caught(traced):
    part = traced["parts"]["corpus_curate"]
    pairs, clean, rows = part.last_output
    assert part.verify(pairs, clean, rows) == []
    bad = [dict(r) for r in rows]
    bad[0]["offset"] += 1
    assert part.verify(pairs, clean, bad)
    assert part.verify(pairs, clean - {min(clean)}, rows)


def test_corrupted_extraction_is_caught(traced):
    part = traced["parts"]["crawl_extract"]
    (rows,) = part.last_output
    assert part.verify(rows)[0] == []
    good = next(i for i, r in enumerate(rows)
                if not part.ref[r["url"]]["truncated"])
    bad = [dict(r) for r in rows]
    bad[good]["text"] = "something else entirely"
    assert part.verify(bad)[0]


def test_corrupted_stream_output_is_caught(traced):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    part = traced["parts"]["event_stream"]
    assert part.verify() == []
    for path in glob.glob(os.path.join(part.out, "totals", "*", "*.parquet")):
        table = pq.read_table(path)
        pq.write_table(table.set_column(
            table.schema.get_field_index("n"), "n", pc.add(table["n"], 1)), path)
    assert part.verify()


def test_declaration_is_well_formed():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"][1] == "benchmark/run.py"
    assert set(spec["workloads"][0]) == {"name", "why"}
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
