"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics, run, workloads  # noqa: E402


def _bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _written(tmp_path, seed: int) -> dict[str, bytes]:
    d = tmp_path / f"s{seed}"
    files = {
        "lineitem": gen.write_table(gen.lineitem(seed, 2_000), str(d / "li"), "lineitem"),
        "documents": gen.write_table(
            gen.doc_batch(seed, 400, gen.vocabulary())[0], str(d / "docs"), "documents"),
    }
    for name, table in gen.star_schema(seed, 2_000).items():
        files[name] = gen.write_table(table, str(d / "star"), name)
    return {k: _bytes(v) for k, v in files.items()}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _written(tmp_path / "a", 7) == _written(tmp_path / "b", 7)


def test_other_seed_changes_values_not_sizes(tmp_path):
    vocab = gen.vocabulary()
    a, exp_a = gen.doc_batch(1, 400, vocab)
    b, exp_b = gen.doc_batch(2, 400, vocab)
    assert a.column("text") != b.column("text")
    assert a.num_rows == b.num_rows
    assert gen.gram_width(a) == gen.gram_width(b)
    # the narrow dedup branch: at most 64 mask words of 64 grams
    assert gen.gram_width(a) <= 64 * 64
    # the funnel counts are fixed by position, only token totals move
    assert [r[:5] for r in exp_a] == [r[:5] for r in exp_b]
    for x, y in zip(gen.star_schema(1, 2_000).values(), gen.star_schema(2, 2_000).values()):
        assert x.num_rows == y.num_rows and x.schema == y.schema
    li1, li2 = gen.lineitem(1, 2_000), gen.lineitem(2, 2_000)
    assert li1.num_rows == li2.num_rows and li1 != li2


def test_planted_duplicates_are_what_the_funnel_expects():
    table, expected = gen.doc_batch(3, 400, gen.vocabulary())
    n_raw = sum(r[1] for r in expected)
    n_exact = sum(r[3] for r in expected)
    n_kept = sum(r[4] for r in expected)
    assert n_raw == table.num_rows == 400
    assert n_exact - n_kept == 400 // gen.NEAR_EVERY  # every near-duplicate dropped
    for _, raw, quality, exact, kept, _ in expected:
        assert kept <= exact <= quality <= raw


@pytest.mark.parametrize("n, want", [
    (39, None),  # p75 has 9 samples beyond it
    (40, (75.0, 10)),
    (100, (90.0, 10)),
    (199, (90.0, 19)),  # p95 would leave only 9
    (1_000, (99.0, 10)),
    (10_000, (99.9, 10)),
])
def test_tail_rule_picks_highest_supported_percentile(n, want):
    samples = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got = metrics.tail_latency(samples)
    if want is None:
        assert got is None
    else:
        p, value, beyond = got
        assert (p, beyond) == want
        assert sum(x > value for x in samples) == beyond


class _Rows:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


def test_wrong_result_marks_the_op_failed(tmp_path, monkeypatch):
    w = workloads.Curate(5, str(tmp_path))
    w.generate()
    answers = []
    monkeypatch.setattr(workloads.pipeline, "pipeline_curate",
                        lambda spark, d: _Rows(answers.pop(0)))
    monkeypatch.setattr(workloads.artifacts, "clear", lambda: None)
    loop = run.Run(w, spark=None, traced=False)

    w.before_op(0)
    answers.append(list(w.expected))
    assert w.op(None, 0, loop.null)

    # one planted near-duplicate reported as kept
    w.before_op(1)
    src, raw, quality, exact, kept, tokens = w.expected[0]
    answers.append([(src, raw, quality, exact, kept + 1, tokens), *w.expected[1:]])
    assert not w.op(None, 1, loop.null)

    answers.extend([[("src0", 0, 0, 0, 0, 0)]] * w.MIN_TIMED_OPS)  # all wrong
    result = loop.timed(0)
    assert (result["attempted"], result["failed"]) == (w.MIN_TIMED_OPS,) * 2


def test_wrong_scan_sum_marks_the_op_failed(tmp_path, monkeypatch):
    w = workloads.OrcScan(1, str(tmp_path))
    w.expected = 1234.5
    monkeypatch.setattr(workloads.orc_io, "orc_roundtrip_sum",
                        lambda spark, d: _Rows([(1234.51,)]))
    w.sf = str(tmp_path)
    assert not w.op(None, 0, run.Run(w, None, False).null)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    for m in spec["per_layer"]:
        assert run.PER_LAYER[m["name"]] == m["unit"]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_host_probe_is_its_own_process_and_stops():
    probe = run.HostProbe(2)
    try:
        assert probe.proc.pid != os.getpid()
        assert all(0 < probe() < 60 for _ in range(2))
        assert len(probe.burst(os.getpid())) == run.CAL_BURST
    finally:
        probe.close()
    assert probe.proc.returncode == 0
