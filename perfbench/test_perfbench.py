"""The benchmark's own tests. From the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The check tests need no Spark: they write a correct output from the
truth, corrupt it (one edge dropped, one triple altered) and require the
check to report it. The smoke test runs every workload once at a small
size, end to end, in its own process.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path[:0] = [str(REPO), str(BENCH)]

from gen import INSTANCE_BASE  # noqa: E402
from run import MIN_TIMED_JOBS, WARM_UP_JOBS, run_job  # noqa: E402
from workloads import WORKLOADS, KgBuild, KgRecrawl, ManifestJsonld  # noqa: E402


def _write_table(path: Path, rows: list[tuple], cols: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True)
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
                   path / "part-0.parquet")


def _kg_build_output(wl: KgBuild, out: Path, edges: list[tuple]) -> None:
    _write_table(out / "edges", edges, ["url", "sent_idx", "subj", "pred", "obj"])
    _write_table(out / "entities", [(e,) for e in sorted(wl.tables["entities"])], ["iri"])
    _write_table(out / "predicates", sorted(wl.tables["predicates"].items()), ["iri", "n_edges"])
    _write_table(out / "violations", sorted(wl.tables["violations"]), ["rule", "subj", "pred"])


def test_kg_build_check_accepts_truth_and_flags_a_dropped_edge(tmp_path):
    wl = KgBuild(seed=5, work=tmp_path / "work", run_dir=tmp_path / "run", size=60)
    wl.prepare()
    edges = sorted(wl.truth)
    _kg_build_output(wl, tmp_path / "good", edges)
    assert wl.check(tmp_path / "good") == []
    _kg_build_output(wl, tmp_path / "bad", edges[1:])
    errs = wl.check(tmp_path / "bad")
    assert len(errs) == 1 and "1 missing" in errs[0]


def test_kg_recrawl_check_flags_a_stale_edge(tmp_path):
    wl = KgRecrawl(seed=6, work=tmp_path / "work", run_dir=tmp_path / "run", size=60)
    wl.prepare()
    edges = sorted(wl.truth)
    _write_table(tmp_path / "good" / "edges", edges, ["url", "sent_idx", "subj", "pred", "obj"])
    assert wl.check(tmp_path / "good") == []
    stale = edges[:-1] + [edges[-1][:4] + ("http://example.org/kg/ids/place/atlantis",)]
    _write_table(tmp_path / "bad" / "edges", stale, ["url", "sent_idx", "subj", "pred", "obj"])
    assert wl.check(tmp_path / "bad")


def _manifest_output(out: Path, triples: set[tuple]) -> None:
    nodes: dict[str, dict] = {}
    for s, p, o in triples:
        nodes.setdefault(s, {"@id": s}).setdefault(p, []).append(o)
    (out / "instances_ndjson" / "bucket=0").mkdir(parents=True)
    (out / "instances_ndjson" / "bucket=0" / "part-0.txt").write_text(
        "".join(json.dumps(n) + "\n" for n in nodes.values()))
    (out / "vocabulary.jsonld").write_text(json.dumps(
        {"insert": {"f:classes": [{"@id": "c"}], "f:properties": [{"@id": "p"}]}}))
    (out / "vocab_meta.json").write_text(json.dumps({"classes": {}}))
    (out / "context.jsonld").write_text(json.dumps({"@context": {"@base": INSTANCE_BASE}}))


def test_manifest_check_flags_an_altered_triple(tmp_path):
    wl = ManifestJsonld(seed=7, work=tmp_path / "work", run_dir=tmp_path / "run", size=5)
    wl.prepare()
    _manifest_output(tmp_path / "good", wl.truth)
    assert wl.check(tmp_path / "good") == []
    s, p, o = next(t for t in sorted(wl.truth, key=repr) if isinstance(t[2], float))
    altered = (wl.truth - {(s, p, o)}) | {(s, p, o + 1)}
    _manifest_output(tmp_path / "bad", altered)
    errs = wl.check(tmp_path / "bad")
    assert len(errs) == 1 and "1 unexpected" in errs[0] and "1 missing" in errs[0]


def test_a_job_that_raises_is_counted_as_failed(tmp_path):
    class Broken:
        def reset(self):
            pass

        def job(self, spark, out):
            raise RuntimeError("boom")

    rec = run_job(Broken(), None, tmp_path / "out")
    assert rec["errors"] == ["RuntimeError: boom"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_workload_runs_once(tmp_path, workload, trace):
    size = 4 if workload == "manifest_jsonld" else 200
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", str(size), "--work", str(tmp_path)],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    # the warm-up jobs are checked too; a traced run times one untraced job,
    # then checks the traced job, the untraced job after it and kg_build's
    # splice and lineage ladders
    sides = 2 if workload == "kg_build" else 0
    assert result["attempted"] == WARM_UP_JOBS + (1 + 2 + sides if trace else MIN_TIMED_JOBS)
    spec = json.loads((REPO / "BENCHMARK.json").read_text())["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    if trace:
        assert list((tmp_path / "traces").glob(f"{workload}-seed3-*.json"))
    if trace and workload == "kg_build":
        measured = {k for k, v in result["metrics"].items() if v["value"]}
        assert {"kg.incremental.splice_s", "kg.incremental.splice.rows_out",
                "kg.lineage.linked_s", "kg.lineage.parts_skipped_ratio"} <= measured
