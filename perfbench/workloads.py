"""The four batch jobs of the benchmark.

Each workload knows how to make its inputs (``prepare``, no Spark), get a
session ready to time (``setup``), run one job from input files to every
output written (``job``), check that job's outputs against independent
truth (``check``), and force successive prefixes of the job under spans
(``ladder``) so a layer's self time is the difference between
neighbouring prefixes. All of it goes through the modules' public
functions; the engine is not modified or patched, apart from the span
wrapper ``KgResume.ladder`` puts around ``kg.lineage.run_stage``.
"""

from __future__ import annotations

import json
import shutil
from collections import Counter
from pathlib import Path

from gen import (
    INSTANCE_BASE,
    RECRAWL_MOD,
    ensure,
    oracle_triples,
    truth_edges,
    truth_tables,
    write_manifest_corpus,
    write_pages,
    write_recrawl_batch,
)

EDGE_COLS = ["url", "sent_idx", "subj", "pred", "obj"]
KG_RULES = ("unknown_predicate", "unlinked_subject", "unlinked_object",
            "domain_mismatch", "range_mismatch", "max_count_exceeded",
            "pred_not_term_iri", "subj_not_id_iri", "obj_not_id_iri")


def noop(df, name: str) -> int:
    """Force df with the no-op sink; return its row count, observed in the
    same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return obs.get["rows"]


def read_rows(path: Path, cols: list[str]) -> list[tuple]:
    """A written parquet table's rows, read with pyarrow (not Spark)."""
    import pyarrow.dataset as ds

    t = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


SELF_KEYS = ("seconds", "jobs", "tasks", "shuffle_write_mb", "spill_mb")


def delta(span: dict, prefix: dict) -> dict:
    """What span did beyond the prefix it contains."""
    return {k: span[k] - prefix[k] for k in SELF_KEYS}


class Layers:
    """Per-layer values of one traced run: self seconds and counters by
    layer, rows_out, and the ratios of repeated or wasted work."""

    def __init__(self):
        self.values: dict[str, float] = {}

    def self_time(self, layer: str, span: dict, *minus: dict) -> None:
        """layer self = span − the neighbouring prefixes it contains."""
        for key in SELF_KEYS:
            suffix = "_s" if key == "seconds" else "." + key
            self.values[layer + suffix] = span[key] - sum(m[key] for m in minus)

    def rows(self, layer: str, n: int) -> None:
        self.values[layer + ".rows_out"] = n


def kg_front(tracer, layers: Layers, pages):
    """The prefixes every fused KG job starts with, each forced under its
    span: the pages scan, the fused extract+NER+link stage (with the
    arguments build_kg passes it), and canonicalisation. Returns the
    canonicalize span, the linked mentions and the edges."""
    from csv_to_jsonld_processor_spark.kg.graph import canonicalize_edges, predicate_context
    from csv_to_jsonld_processor_spark.kg.link import kb_index
    from csv_to_jsonld_processor_spark.kg.mentions import extract_link_from_html
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES, PREDICATES

    surfaces = [p[0] for p in PREDICATES]
    gazetteer = [a for _c, aliases, _cls in ENTITIES for a in aliases]
    linked = extract_link_from_html(pages, surfaces, gazetteer, kb_index(ENTITIES))
    edges = canonicalize_edges(linked, predicate_context(PREDICATES))[0]
    prev = None
    for layer, df in (("sources.pages.scan", pages.select("url", "html", "lang")),
                      ("kg.mentions.fused", linked), ("kg.graph.canonicalize", edges)):
        with tracer.span(layer) as sp:
            layers.rows(layer, noop(df, layer))
        layers.self_time(layer, sp, *([prev] if prev else []))
        prev = sp
    layers.values["kg.link.hit_rate"] = (layers.values["kg.graph.canonicalize.rows_out"]
                                         / max(1, layers.values["kg.mentions.fused.rows_out"]))
    return prev, linked, edges


def shacl_checks(tracer, layers: Layers, edges, prefix: dict) -> list[dict]:
    """Each SHACL check build_kg runs over the edges, forced under its
    span; a check's self time is its span minus the edges prefix."""
    from csv_to_jsonld_processor_spark.kg import graph as G
    from csv_to_jsonld_processor_spark.kg.pipeline import DOMAIN_RANGE, MAX_COUNTS

    spans = []
    for layer, df in (("kg.graph.shacl_domain_range", G.validate_edges(edges, DOMAIN_RANGE)),
                      ("kg.graph.shacl_cardinality", G.validate_cardinality(edges, MAX_COUNTS)),
                      ("kg.graph.shacl_node_kind", G.validate_node_iris(edges))):
        with tracer.span(layer) as sp:
            layers.rows(layer, noop(df, layer))
        layers.self_time(layer, sp, prefix)
        spans.append(sp)
    return spans


def edge_errors(path: Path, truth: set[tuple]) -> list[str]:
    edges = read_rows(path, EDGE_COLS)
    got = set(edges)
    if len(edges) == len(got) and got == truth:
        return []
    return [f"edges: {len(edges)} rows, {len(got - truth)} unexpected, "
            f"{len(truth - got)} missing of {len(truth)}"]


def python_floors(layers: Layers, spark, pages_path: Path, linked) -> None:
    """Single-core Python cost of the fused stage's own work on plain
    lists: extract_text over the pages' html, resolve_mention over the
    mentions it produced."""
    import time

    import pyarrow.dataset as ds

    from csv_to_jsonld_processor_spark.extract import extract_text
    from csv_to_jsonld_processor_spark.kg.link import kb_index, resolve_mention
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES

    t = ds.dataset(str(pages_path), format="parquet").to_table(columns=["html", "lang"])
    html = [h for h, lang in zip(t.column("html").to_pylist(), t.column("lang").to_pylist())
            if lang == "en"]
    mentions = [m for r in linked.select("subj_mention", "obj_mention").collect() for m in r]
    idx = kb_index(ENTITIES)
    t0 = time.perf_counter()
    for h in html:
        extract_text(h)
    t1 = time.perf_counter()
    for m in mentions:
        resolve_mention(m, idx)
    t2 = time.perf_counter()
    layers.values.update({"extract.python_s": t1 - t0, "extract.rows_out": len(html),
                          "kg.link.python_s": t2 - t1, "kg.link.rows_out": len(mentions)})


class Workload:
    name = ""
    watched = None  # the pages input whose scans the trace counts

    def __init__(self, seed: int, work: Path, run_dir: Path, size: int | None = None):
        self.seed = seed
        self.work = work  # shared: the input cache
        self.state = run_dir / "state"  # this run's own job state
        self.size = size or self.default_size

    @property
    def inputs(self) -> Path:
        return self.work / "inputs" / f"{self.name}-seed{self.seed}-size{self.size}"

    def ensure_pages(self) -> Path:
        """The generated pages corpus, shared by the KG workloads of one
        (seed, size)."""
        d = self.work / "inputs" / f"pages-seed{self.seed}-size{self.size}"
        return ensure(d, lambda c: write_pages(c / "pages", self.size, self.seed)) / "pages"

    def describe(self) -> dict:
        return {"workload": self.name, "seed": self.seed, "size": self.size}

    def setup(self, spark) -> None:
        """Get the session ready to time, beyond the warm-up jobs."""

    def reset(self) -> None:
        """Restore the state a job starts from (untimed, before each job)."""

    def side_ladders(self, spark, tracer, out: Path, layers: Layers) -> list[dict]:
        """Traced ladders of other jobs whose layers this workload's traced
        run also measures; one {seconds, errors} record per ladder."""
        return []


class PagesWorkload(Workload):
    """A job over one generated pages corpus whose full KG it builds."""

    default_size = 4000  # pages

    def prepare(self) -> None:
        self.pages_path = self.ensure_pages()
        self.watched = self.pages_path
        self.truth = truth_edges(self.size, self.seed)
        self.tables = truth_tables(self.truth)

    def violation_errors(self, path: Path) -> list[str]:
        viol = sorted(read_rows(path, ["rule", "subj", "pred"]))
        want = sorted(self.tables["violations"])
        return [] if viol == want else [f"violations: {len(viol)} rows vs {len(want)} expected"]


class KgBuild(PagesWorkload):
    """pages parquet → build_kg(out_dir=...) → entities/predicates/edges/violations."""

    name = "kg_build"

    def setup(self, spark) -> None:
        self.pages = spark.read.parquet(str(self.pages_path))

    def job(self, spark, out: Path) -> int:
        from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

        self.counts = build_kg(spark, self.pages, out_dir=str(out))["counts"]
        return self.counts["edges"]

    def check(self, out: Path) -> list[str]:
        errs = edge_errors(out / "edges", self.truth)
        ents = {r[0] for r in read_rows(out / "entities", ["iri"])}
        if ents != self.tables["entities"]:
            errs.append(f"entities: {sorted(ents ^ self.tables['entities'])[:3]}")
        preds = dict(read_rows(out / "predicates", ["iri", "n_edges"]))
        if preds != self.tables["predicates"]:
            errs.append(f"predicates: {preds} != {self.tables['predicates']}")
        return errs + self.violation_errors(out / "violations")

    def ladder(self, spark, tracer, out: Path, layers: Layers) -> dict:
        canon, linked, edges = kg_front(tracer, layers, self.pages)
        checks = shacl_checks(tracer, layers, edges, canon)
        with tracer.span("job") as full:
            self.job(spark, out)
        # the sink: everything the job does beyond one pass of each layer
        layers.self_time("kg.graph.materialize", full, canon, *(delta(c, canon) for c in checks))
        layers.rows("kg.graph.materialize", sum(self.counts.values()))
        layers.values["sources.pages.scans_per_job"] = full["watched_rows"] / self.size
        kg_violation_rows(layers, out / "violations")
        python_floors(layers, spark, self.pages_path, linked)
        return full

    def side_ladders(self, spark, tracer, out: Path, layers: Layers) -> list[dict]:
        """The splice and lineage layers, measured on this corpus:
        kg_recrawl's ladder with this job's edges table as its base (it is
        the table kg_recrawl's set-up writes), then kg_resume's ladder after
        its crashed run. Only their own layers' values are kept."""
        recrawl = KgRecrawl(self.seed, self.work, self.state.parent, self.size)
        recrawl.prepare()
        recrawl.open(spark, out / "edges")
        resume = KgResume(self.seed, self.work, self.state.parent, self.size)
        resume.prepare()
        resume.setup(spark)
        records = []
        for side in (recrawl, resume):
            side_layers, side_out = Layers(), self.state / side.name
            side.reset()
            with tracer.span(f"trace:{side.name}", **side.describe()):
                full = side.ladder(spark, tracer, side_out, side_layers)
            records.append({"seconds": full["seconds"], "errors": side.check(side_out)})
            layers.values.update((k, v) for k, v in side_layers.values.items()
                                 if k.startswith(side.own_layers))
        return records


def kg_violation_rows(layers: Layers, path: Path) -> None:
    rules = Counter(r[0] for r in read_rows(path, ["rule"]))
    for rule in KG_RULES:
        layers.values[f"kg.graph.violations_rows.{rule}"] = rules.get(rule, 0)


class KgRecrawl(Workload):
    """Materialised edges + a 10% recrawl batch → maintain_edges_incremental → write_table."""

    name = "kg_recrawl"
    own_layers = "kg.incremental."
    default_size = 10000  # pages in the base corpus

    def prepare(self) -> None:
        self.residue = self.seed % RECRAWL_MOD

        self.pages_path = self.ensure_pages()
        self.batch_path = ensure(self.inputs, lambda d: write_recrawl_batch(
            d / "batch", self.size, self.seed, self.residue)) / "batch"
        self.watched = self.batch_path
        self.truth = truth_edges(self.size, self.seed, self.residue)
        self.batch_rows = sum(1 for i in range(self.size) if i % RECRAWL_MOD == self.residue)

    def setup(self, spark) -> None:
        """The steady state: the base corpus's edges table, written by the
        pipeline the way materialize_graph writes it."""
        from csv_to_jsonld_processor_spark.kg.graph import with_bucket, write_table
        from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

        base_path = self.state / "base_edges"
        edges = build_kg(spark, spark.read.parquet(str(self.pages_path)))["edges"]
        write_table(with_bucket(edges), str(base_path), partition_by=["bucket"])
        self.open(spark, base_path)

    def open(self, spark, base_path: Path) -> None:
        self.base = spark.read.parquet(str(base_path)).select(*EDGE_COLS)
        self.batch = spark.read.parquet(str(self.batch_path))

    def job(self, spark, out: Path) -> int:
        from csv_to_jsonld_processor_spark.kg.graph import write_table
        from csv_to_jsonld_processor_spark.kg.incremental import maintain_edges_incremental

        write_table(maintain_edges_incremental(spark, self.base, self.batch), str(out / "edges"))
        return len(self.truth)

    def check(self, out: Path) -> list[str]:
        return edge_errors(out / "edges", self.truth)

    def ladder(self, spark, tracer, out: Path, layers: Layers) -> dict:
        from csv_to_jsonld_processor_spark.kg.incremental import maintain_edges_incremental

        canon, linked, _edges = kg_front(tracer, layers, self.batch)
        with tracer.span("kg.incremental.splice") as splice:
            layers.rows("kg.incremental.splice",
                        noop(maintain_edges_incremental(spark, self.base, self.batch), "splice"))
        layers.self_time("kg.incremental.splice", splice, canon)
        with tracer.span("job") as full:
            self.job(spark, out)
        layers.self_time("kg.graph.materialize", full, splice)
        layers.rows("kg.graph.materialize", len(self.truth))
        layers.values["sources.pages.scans_per_job"] = full["watched_rows"] / self.batch_rows
        python_floors(layers, spark, self.batch_path, linked)
        return full


class KgResume(PagesWorkload):
    """A build_kg_resumable run killed half way through ``linked``,
    resumed to completion; edges and violations written."""

    name = "kg_resume"
    own_layers = "kg.lineage."
    n_parts = 16

    def setup(self, spark) -> None:
        from csv_to_jsonld_processor_spark.kg.pipeline import build_kg_resumable

        self.pages = spark.read.parquet(str(self.pages_path))
        self.crashed = self.state / "crashed"
        shutil.rmtree(self.crashed, ignore_errors=True)
        try:
            build_kg_resumable(spark, self.pages, str(self.crashed), n_parts=self.n_parts,
                               fail_at=("linked", self.n_parts // 2))
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected failure did not fire")
        self.resume_dir = self.state / "resume"

    def reset(self) -> None:
        shutil.rmtree(self.resume_dir, ignore_errors=True)
        shutil.copytree(self.crashed, self.resume_dir)

    def job(self, spark, out: Path) -> int:
        from csv_to_jsonld_processor_spark.kg.graph import write_table
        from csv_to_jsonld_processor_spark.kg.pipeline import build_kg_resumable

        r = build_kg_resumable(spark, self.pages, str(self.resume_dir), n_parts=self.n_parts)
        write_table(r["edges"], str(out / "edges"))
        write_table(r["violations"], str(out / "violations"))
        return len(self.truth)

    def check(self, out: Path) -> list[str]:
        return edge_errors(out / "edges", self.truth) + self.violation_errors(out / "violations")

    def ladder(self, spark, tracer, out: Path, layers: Layers) -> dict:
        from csv_to_jsonld_processor_spark.kg import lineage

        ledger = str(self.resume_dir / "ledger")
        stages = ("mentions", "linked", "edges")
        skipped = sum(len(lineage.completed_parts(spark, ledger, s)) for s in stages)
        layers.values["kg.lineage.parts_skipped_ratio"] = skipped / (len(stages) * self.n_parts)
        run_stage = lineage.run_stage
        stage_spans, stage_dfs = [], []

        def traced_run_stage(spark_, stage, *args, **kwargs):
            with tracer.span(f"kg.lineage.{stage}") as sp:
                df = run_stage(spark_, stage, *args, **kwargs)
            stage_spans.append(sp)
            stage_dfs.append(df)
            return df

        lineage.run_stage = traced_run_stage
        try:
            with tracer.span("job") as full:
                self.job(spark, out)
        finally:
            lineage.run_stage = run_stage
        for sp, df in zip(stage_spans, stage_dfs):
            layers.self_time(sp["name"], sp)
            layers.rows(sp["name"], noop(df, sp["name"]))
        edges = spark.read.parquet(str(out / "edges"))
        with tracer.span("kg.graph.edges_scan") as scan:
            n_edges = noop(edges, "edges")
        shacl_checks(tracer, layers, edges, scan)
        # the sinks: the job beyond its three eager stages
        layers.self_time("kg.graph.materialize", full, *stage_spans)
        layers.rows("kg.graph.materialize", n_edges)
        linked_rows = spark.read.parquet(str(self.resume_dir / "linked")).count()
        layers.values["kg.link.hit_rate"] = n_edges / max(1, linked_rows)
        layers.values["sources.pages.scans_per_job"] = full["watched_rows"] / self.size
        kg_violation_rows(layers, out / "violations")
        return full


def node_triples(nodes_dir: Path) -> set[tuple]:
    """NDJSON JSON-LD nodes → (subj, pred, value) with numbers as floats."""
    out = set()
    for f in nodes_dir.rglob("*.txt"):
        for line in f.read_text().splitlines():
            node = json.loads(line)
            subj = node.pop("@id")
            for pred, v in node.items():
                for x in v if isinstance(v, list) else [v]:
                    out.add((subj, pred, _norm_json(x)))
    return out


def _norm_json(x):
    if isinstance(x, (bool, str)):
        return x
    return float(x)


class ManifestJsonld(Workload):
    """manifest + model/instance CSVs → Pipeline.run(single_document=False)."""

    name = "manifest_jsonld"
    default_size = 50  # products (about 25 CSV rows each)

    def prepare(self) -> None:
        self.root = ensure(self.inputs, lambda d: (d / "rows.json").write_text(
            json.dumps(write_manifest_corpus(d, self.size, self.seed))))
        self.rows = json.loads((self.root / "rows.json").read_text())
        kinds = {"number": float, "boolean": lambda o: o == "true"}
        self.truth = {(s, p, kinds.get(k, str)(o)) for s, p, o, k in oracle_triples(self.root)}

    def describe(self) -> dict:
        return {**super().describe(), **self.rows}

    def job(self, spark, out: Path) -> int:
        from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

        outcome = Pipeline.from_manifest(self.root / "manifest.json", self.root).run(
            spark, out, single_document=False)
        if not outcome.ok:
            raise RuntimeError(f"pipeline errors: {outcome.errors[:3]}")
        self.counts = outcome.counts
        return outcome.counts["triples"]

    def check(self, out: Path) -> list[str]:
        errs = []
        got = node_triples(out / "instances_ndjson")
        if got != self.truth:
            errs.append(f"instance triples: {len(got - self.truth)} unexpected "
                        f"{sorted(got - self.truth)[:2]}, {len(self.truth - got)} missing "
                        f"{sorted(self.truth - got)[:2]} of {len(self.truth)}")
        vocab = json.loads((out / "vocabulary.jsonld").read_text())
        if not vocab["insert"]["f:classes"] or not vocab["insert"]["f:properties"]:
            errs.append("vocabulary.jsonld has no classes or properties")
        meta = json.loads((out / "vocab_meta.json").read_text())
        if not meta:
            errs.append("vocab_meta.json is empty")
        ctx = json.loads((out / "context.jsonld").read_text())["@context"]
        if INSTANCE_BASE not in json.dumps(ctx):
            errs.append("context.jsonld lacks the instances base IRI")
        return errs

    def ladder(self, spark, tracer, out: Path, layers: Layers) -> dict:
        from csv_to_jsonld_processor_spark.manifest import Manifest
        from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs
        from csv_to_jsonld_processor_spark.plans.pipeline import assemble_entities_json
        from csv_to_jsonld_processor_spark.vocabulary import compile_vocabulary

        with tracer.span("manifest.load") as load:
            m = Manifest.from_file(self.root / "manifest.json")
        with tracer.span("vocabulary.compile") as comp:
            vocab = compile_vocabulary(m, self.root)
        layers.rows("manifest.load", len(m.model.sequence) + len(m.instances.sequence))
        layers.rows("vocabulary.compile", len(vocab.classes) + len(vocab.properties))
        with tracer.span("operators.instance_triples") as trip:
            # building the plans already runs jobs (picklists, CSV headers)
            triples, viol = build_instance_outputs(spark, m, vocab, self.root)
            with tracer.span("operators.instance_triples.force") as trip_force:
                layers.rows("operators.instance_triples", noop(triples, "triples"))
        with tracer.span("operators.violations") as vio:
            layers.rows("operators.violations", noop(viol, "violations"))
        with tracer.span("plans.pipeline.assemble") as asm:
            layers.rows("plans.pipeline.assemble", noop(assemble_entities_json(triples), "nodes"))
        with tracer.span("job") as full:
            self.job(spark, out)
        for layer, sp in (("manifest.load", load), ("vocabulary.compile", comp),
                          ("operators.instance_triples", trip), ("operators.violations", vio)):
            layers.self_time(layer, sp)
        layers.self_time("plans.pipeline.assemble", asm, trip_force)
        layers.self_time("plans.pipeline.sinks", full, load, comp, trip, vio, delta(asm, trip_force))
        layers.rows("plans.pipeline.sinks", self.counts["entities"])
        # one assembly pass runs one MapInPandas operator
        layers.values["plans.pipeline.assemble_runs_per_job"] = full["map_in_pandas"] / max(1, asm["map_in_pandas"])
        return full


WORKLOADS = {w.name: w for w in (KgBuild, KgRecrawl, ManifestJsonld, KgResume)}
