"""The benchmark's own checks must reject wrong output, and a rejected
pass must count as failed.

    python3 -m pytest perfbench/test_checks.py -q

Each test runs one real pass on a tiny input, damages its output the way
a faulty engine could (a sink loses a row, a pair below the threshold is
reported, a session row goes missing, keep-best keeps a second row), and
asserts that the check names the problem and that the ``Tally`` counts
the pass as failed. A workload whose every pass raises must still end
the measuring loop and print a result that is not correct.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import pytest

import docgen
import run
import workloads


@pytest.fixture(scope="module")
def work():
    path = os.path.join(run.HERE, ".work", f"test-{os.getpid()}")
    run._env(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    s = run._session(work, 2)
    yield s
    s.stop()


class _Tampered:
    """A workload whose pass output goes through ``damage`` before the
    check, so the benchmark's own accounting sees a wrong pass."""

    def __init__(self, wl, damage):
        self.wl, self.damage = wl, damage

    def run_pass(self):
        return self.damage(self.wl.run_pass())

    def check(self, out):
        return self.wl.check(out)

    def clear_output(self):
        self.wl.clear_output()


def _failed_pass(wl, damage) -> run.Tally:
    tally = run.Tally()
    assert tally.run_pass(wl, os.getpid()) is not None
    assert (tally.attempted, tally.failed) == (1, 0), tally.problems
    tally.run_pass(_Tampered(wl, damage), os.getpid())
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.failed_share == 0.5
    return tally


@pytest.fixture(scope="module")
def etl(spark, work):
    wl = workloads.EtlFanout(spark, os.path.join(work, "etl"), seed=3, n_convs=60)
    wl.generate()
    assert wl.fingerprint()["rows"] == wl.rows > 0
    return wl


def test_etl_rejects_sink_with_a_dropped_row(etl):
    def drop_row(out):
        path = os.path.join(out.sink_dir, "bash")
        df = etl.spark.read.parquet(path)
        kept = df.limit(df.count() - 1).localCheckpoint()
        kept.write.mode("overwrite").parquet(path)
        return out

    tally = _failed_pass(etl, drop_row)
    assert any("read-back counts" in p for p in tally.problems)


def test_etl_rejects_missing_session_row(etl):
    def drop_session(out):
        sessions = etl.sessions(etl.pipeline.route(etl.enriched(), persist=False).df)
        n = sessions.count()
        rows, k = workloads.session_totals(sessions.limit(n - 1))
        assert k == out.sessions - 1
        return dataclasses.replace(out, session_rows=rows, sessions=k)

    tally = _failed_pass(etl, drop_session)
    assert any("session sizes" in p for p in tally.problems)


def test_etl_rejects_wrong_route_and_aggregate(etl):
    out = etl.run_pass()
    try:
        moved = dict(out.egress, security=out.egress["security"] + 1, other=out.egress["other"] - 1)
        assert any("route egress" in p for p in etl.check(dataclasses.replace(out, egress=moved)))
        key = next(iter(out.by_role_tool))
        wrong = dict(out.by_role_tool)
        wrong[key] += 1
        assert any("salted_agg" in p for p in etl.check(dataclasses.replace(out, by_role_tool=wrong)))
    finally:
        etl.clear_output()


@pytest.fixture(scope="module")
def neardup(spark, work):
    wl = workloads.NeardupDedup(spark, os.path.join(work, "nd"), seed=5, n_docs=300)
    wl.generate()
    assert wl.fingerprint()["planted_pairs"] > 0 and wl.expect["must_find"]
    return wl


def test_neardup_rejects_pair_below_threshold(neardup):
    base, decoy = neardup.corpus.decoys[0]
    a, b = sorted((base, decoy))
    j = docgen.jaccard(neardup.corpus.shingles[a], neardup.corpus.shingles[b])
    assert j < workloads.THRESHOLD

    def add_pair(out):
        return dataclasses.replace(out, simhash_pairs=out.simhash_pairs + [(a, b, j)])

    tally = _failed_pass(neardup, add_pair)
    assert any("simhash_near_dup" in p and "Jaccard" in p for p in tally.problems)


def test_neardup_rejects_missed_pair_and_extra_kept_row(neardup):
    def lose_pair(out):
        return dataclasses.replace(out, minhash_pairs=out.minhash_pairs[1:])

    tally = _failed_pass(neardup, lose_pair)
    assert any("missed 1 planted" in p for p in tally.problems)

    out = neardup.run_pass()
    loser = next(i for i in neardup.corpus.texts if i not in out.kept)
    out.kept[loser] = loser
    assert any("dedup_keep_best" in p for p in neardup.check(out))


class _Broken:
    """A workload whose every pass raises, as a broken engine would."""

    def run_pass(self):
        raise RuntimeError("engine broke")

    def clear_output(self):
        pass


def test_failing_passes_end_the_run_and_are_reported(capsys):
    tally = run.Tally()
    passes = run.measure(_Broken(), tally, os.getpid(), seconds=0.0)
    assert passes == []
    assert tally.attempted == tally.failed == run.MIN_PASSES + 2
    values = run.end_to_end(passes, rows=100, setup_s=1.0, peak_mb=10.0)
    metrics = {k: {"value": values[k], "unit": u} for k, u in run.END_TO_END.items()}
    run.print_result("w", metrics, tally, {}, measured=bool(passes))
    lines = capsys.readouterr().out.splitlines()
    assert "failed_share" in lines[-3] and lines[-3].split()[2] == "1"
    result = json.loads(lines[-1])
    assert result["correct"] is False
    assert result["attempted"] == result["failed"] == run.MIN_PASSES + 2


def test_docgen_is_seeded_and_planted_pairs_clear_the_threshold():
    a, b = docgen.generate(500, 11), docgen.generate(500, 11)
    assert a.fingerprint() == b.fingerprint()
    assert docgen.generate(500, 12).fingerprint()["sha256"] != a.fingerprint()["sha256"]
    assert min(j for *_p, j in a.planted_pairs()) >= 0.9
    assert all(docgen.jaccard(a.shingles[x], a.shingles[y]) < workloads.THRESHOLD for x, y in a.decoys)


def test_jaccard_reference_definition():
    s = docgen.shingle_set("  The quick,  brown FOX jumps ")
    assert s == {"the quick brown", "quick brown fox", "brown fox jumps"}
    assert docgen.shingle_set("a b") == {"a b"}
    assert docgen.jaccard(s, docgen.shingle_set("the quick brown fox")) == pytest.approx(2 / 3)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.SIZES)
