"""Seeded inputs for the benchmark workloads, and their independent truth.

Every input is a pure function of (workload, seed, size). Pages and the
recrawl batch come from ``sources.pages`` (``page_record`` /
``recrawled_page_record``), written with pyarrow so no Spark session is
needed to make them. The manifest corpus is a BOM-shaped CSV set with the
step kinds of FIXTURES.md section B.

The truth for each KG workload is derived from the generator's own fact
lists, never from the pipeline: the rule of
``tools/regen_kg_edges_golden.py`` (and ``tools/regen_kg_recrawl_golden.py``
for the post-recrawl corpus). The manifest truth is
``tests/oracle_reference.oracle_triples``.
"""

from __future__ import annotations

import csv
import json
import random
from collections import defaultdict
from pathlib import Path

N_PAGE_FILES = 8  # a crawl lands as several files; one file would be one task
RECRAWL_MOD = 10  # pages idx % 10 == residue are re-crawled: a 10% batch
KG_IDS = "http://example.org/kg/ids/"
KG_TERMS = "http://example.org/kg/terms/"
FUNCTIONAL = ("birthPlace", "headquarters")  # kg.pipeline.MAX_COUNTS, by local name


def _write_pages(records: list[dict], out_dir: Path, n_files: int = N_PAGE_FILES) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    step = max(1, -(-len(records) // n_files))
    for f, lo in enumerate(range(0, len(records), step)):
        pq.write_table(pa.Table.from_pylist(records[lo:lo + step]),
                       out_dir / f"part-{f:03d}.parquet")


def page_seeds(seed: int) -> tuple[int, int]:
    """(base seed, content seed of the recrawl) for a workload seed."""
    return seed, seed + 1_000_003


def write_pages(out_dir: Path, n: int, seed: int) -> None:
    from csv_to_jsonld_processor_spark.sources.pages import page_record

    _write_pages([page_record(i, seed) for i in range(n)], out_dir)


def write_recrawl_batch(out_dir: Path, n: int, seed: int, residue: int) -> None:
    """The changed-page batch: pages idx % 10 == residue of the n-page
    corpus, re-generated under the content seed (``generate_recrawled_pages``
    row for row)."""
    from csv_to_jsonld_processor_spark.sources.pages import recrawled_page_record

    base, content = page_seeds(seed)
    recs = [recrawled_page_record(i, base, content)
            for i in range(n) if i % RECRAWL_MOD == residue]
    _write_pages(recs, out_dir, n_files=2)


def truth_edges(n: int, seed: int, recrawl_residue: int | None = None) -> set[tuple]:
    """(url, sent_idx, subj, pred, obj) the pipeline must emit for the
    n-page corpus — optionally after the recrawl batch replaced pages
    idx % 10 == residue."""
    from csv_to_jsonld_processor_spark.iri import to_kebab_case
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES, page_record, page_sentences

    cls_of = {c: cls for c, _aliases, cls in ENTITIES}
    iri = {c: f"{KG_IDS}{to_kebab_case(cls_of[c])}/{to_kebab_case(c)}" for c in cls_of}
    base, content = page_seeds(seed)
    out = set()
    for idx in range(n):
        rec = page_record(idx, base)  # identity (url, lang) never changes
        if rec["lang"] != "en":
            continue
        s_seed = content if recrawl_residue is not None and idx % RECRAWL_MOD == recrawl_residue else base
        for si, (_sent, s, p, o) in enumerate(page_sentences(idx, s_seed)):
            if s is not None:
                out.add((rec["url"], si, iri[s], KG_TERMS + p, iri[o]))
    return out


def truth_tables(edges: set[tuple]) -> dict:
    """The other three tables of a full build, from the truth edge set:
    entity IRIs, predicate edge counts, and the sh:maxCount violations
    (the corpus links every mention, so no other rule fires)."""
    entities = {e[2] for e in edges} | {e[4] for e in edges}
    preds: dict[str, int] = defaultdict(int)
    objs: dict[tuple, set] = defaultdict(set)
    for _u, _si, s, p, o in edges:
        preds[p] += 1
        if p.rsplit("/", 1)[1] in FUNCTIONAL:
            objs[(s, p)].add(o)
    violations = {("max_count_exceeded", s, p) for (s, p), os_ in objs.items() if len(os_) > 1}
    return {"entities": entities, "predicates": dict(preds), "violations": violations}


# --- manifest corpus (FIXTURES.md section B shapes) ---------------------------

MODEL_BASE = "http://example.org/bom/terms/"
INSTANCE_BASE = "http://example.org/bom/ids/"
N_MATERIAL_CLASSES = 12
FEATURES_PER_CLASS = 3
STATUSES = [("in-stock", "In Stock"), ("backorder", "Backorder"),
            ("discontinued", "Discontinued"), ("reserved", "Reserved")]

_MODEL_HEADERS = ["Class Name", "Class Description", "Property Name",
                  "Property Description", "Type", "Class Range", "Reasoning Logic"]
_MODEL_ROWS = [
    ("Product", "Identifier", "@id", ""),
    ("Product", "Product Name", "String", ""),
    ("Product", "Product Retail Price", "Float", ""),
    ("Product", "Units Sold", "Integer", ""),
    ("Manufacturer", "Manufacturer ID", "@id", ""),
    ("Manufacturer", "Manufacturer Name", "String", ""),
    ("Manufacturer", "Active Since", "Date/Time", ""),
    ("Manufacturer", "Product Quality Rating", "Float", ""),
    ("Manufacturer", "Certified", "Boolean", ""),
    ("Material", "Material Number", "@id", ""),
    ("Material", "Material Name", "String", ""),
    ("Inventory Status", "Status ID", "@id", ""),
    ("Inventory Status", "Status Name", "String", ""),
    ("Warehouse Inventory", "Inventory Record ID", "@id", ""),
    ("Warehouse Inventory", "As of Date", "Date/Time", ""),
    ("Warehouse Inventory", "Warehouse Location", "String", ""),
    ("Warehouse Inventory", "has Material", "URI", "Material"),
    ("Warehouse Inventory", "Inventory Status", "Picklist", "Inventory Status"),
    ("Warehouse Inventory", "Quantity Units Available", "Integer", ""),
    ("Warehouse Inventory", "Bin Numbers", "Integer", ""),
    ("Bill of Materials", "Bill of Materials ID", "@id", ""),
    ("Bill of Materials", "has Product", "URI", "Product"),
    ("Bill of Materials", "Revision", "Integer", ""),
    ("Bill of Materials Item", "quantity", "Integer", ""),
    ("Bill of Materials Item", "has Material", "URI", "Material"),
]


def manifest_dict() -> dict:
    step = lambda kind: ["CSVImportStep", kind]  # noqa: E731
    return {
        "@type": "CSVImportManifest",
        "@id": "model/bench-bom",
        "name": "bench-bom",
        "ledger": "bench/bom",
        "model": {
            "baseIRI": MODEL_BASE,
            "path": "model/",
            "sequence": [
                {"path": "DataModel.csv", "@type": step("BasicVocabularyStep"),
                 "overrides": [{"column": "Class Name", "mapTo": "$Class.ID"},
                               {"column": "Property Name", "mapTo": "$Property.ID"}],
                 "extraItems": [{"column": "Reasoning Logic", "mapTo": "reasoningLogic",
                                 "onEntity": "PROPERTY"}]},
                {"path": "MaterialClass.csv", "@type": step("SubClassVocabularyStep"),
                 "subClassOf": ["Material"], "replaceClassIdWith": "$Class.Name",
                 "extraItems": [{"column": "Category", "mapTo": "category", "onEntity": "CLASS"}]},
                {"path": "MaterialFeatures.csv", "@type": step("PropertiesVocabularyStep"),
                 "replacePropertyIdWith": "$Property.Name", "ignore": ["Class Name"],
                 "extraItems": [
                     {"column": "Attribute Abbreviation", "mapTo": "abbreviation",
                      "onEntity": "PROPERTY"},
                     {"column": "Before / After", "mapTo": "position", "onEntity": "PROPERTY"}]},
            ],
        },
        "instances": {
            "baseIRI": INSTANCE_BASE,
            "namespaceIris": True,
            "path": "instances/",
            "sequence": [
                {"path": "Products.csv", "@type": step("BasicInstanceStep"),
                 "instanceType": "Product", "mapToLabel": "Product Name"},
                {"path": "Manufacturer.csv", "@type": step("BasicInstanceStep"),
                 "instanceType": "Manufacturer"},
                {"path": "WarehouseInventory.csv", "@type": step("BasicInstanceStep"),
                 "instanceType": "WarehouseInventory", "delimitValuesOn": ","},
                {"path": "BillOfMaterials.csv", "@type": step("BasicInstanceStep"),
                 "instanceType": "BillOfMaterials",
                 "pivotColumns": [{"instanceType": "BillOfMaterialsItem",
                                   "newRelationshipProperty": "hasItems",
                                   "columns": ["quantity", "has Material"]}]},
                {"path": "Material.csv", "@type": step("SubClassInstanceStep"),
                 "instanceType": "Material", "subClassProperty": "has Material Class"},
                {"path": "MaterialFeatureValues.csv", "@type": step("PropertiesInstanceStep"),
                 "instanceType": "Material"},
                # listed last: the engine must still run picklists first
                {"path": "InventoryStatus.csv", "@type": step("PicklistStep"),
                 "instanceType": "InventoryStatus", "mapToLabel": "Status Name"},
            ],
        },
    }


def _csv(path: Path, headers: list[str], rows: list[list]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(headers)
        w.writerows(rows)


def write_manifest_corpus(root: Path, n_products: int, seed: int) -> dict:
    """BOM corpus scaled by the product count; returns its row counts.

    Per product: ~3 materials, ~4.5 BOM rows (repeated BOM id, pivot
    children), 2 inventory rows and ~7.5 EAV feature values. Cells
    exercise currency cleanup, M/D/YYYY dates, booleans, failed
    integers, multi-value Integer cells split on ',', quoted commas,
    picklist members and non-members, and one unknown column."""
    rng = random.Random(seed)
    (root / "manifest.json").parent.mkdir(parents=True, exist_ok=True)
    (root / "manifest.json").write_text(json.dumps(manifest_dict(), indent=1))
    model, inst = root / "model", root / "instances"
    _csv(model / "DataModel.csv", _MODEL_HEADERS,
         [[c, f"{c} records", p, f"the {p}", t, rng_, "rule" if t == "Integer" else ""]
          for c, p, t, rng_ in _MODEL_ROWS])

    classes = [(f"C{rng.randrange(10**8, 10**9)}", f"Material Class {k}") for k in range(N_MATERIAL_CLASSES)]
    _csv(model / "MaterialClass.csv", ["Class ID", "Class Name", "Class Description", "Category"],
         [[cid, name, f"{name} parts", rng.choice(["Raw", "Component", "Assembly"])]
          for cid, name in classes])
    features = []
    for cid, name in classes:
        for j in range(FEATURES_PER_CLASS):
            features.append((cid, name, f"MF{len(features) + 100}", f"{name} Feature {j}"))
    _csv(model / "MaterialFeatures.csv",
         ["Class ID", "Class Name", "Property ID", "Property Name",
          "Attribute Abbreviation", "Before / After"],
         [[cid, name, pid, pname, f"F{j}", rng.choice(["Before", "After"])]
          for j, (cid, name, pid, pname) in enumerate(features)])

    n_mfr = max(4, n_products // 4)
    n_mat = 3 * n_products
    mfr_ids = [str(100000 + i) for i in range(n_mfr)]
    mat_ids = [f"M{200000 + i}" for i in range(n_mat)]
    prod_ids = [f"P{1000 + i}-SERVER-{i % 97:02d}" for i in range(n_products)]

    def date() -> str:
        return f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/{rng.randint(1990, 2024)}"

    _csv(inst / "InventoryStatus.csv", ["Status ID", "Status Name"], [list(s) for s in STATUSES])
    _csv(inst / "Products.csv", ["Identifier", "Product Name", "Product Retail Price", "Units Sold"],
         [[pid, f"Server {pid[:5]}", f"${rng.randint(100, 9999):,}.{rng.randint(0, 99):02d}",
           str(rng.randint(0, 5000)) if rng.random() > 0.05 else "n/a"] for pid in prod_ids])
    _csv(inst / "Manufacturer.csv",
         ["Manufacturer ID", "Manufacturer Name", "Active Since", "Product Quality Rating", "Certified"],
         [[m, f"Maker {m}", date(), f"{rng.uniform(1, 5):.2f}",
           rng.choice(["true", "false", "yes", "no", "1", "0"])] for m in mfr_ids])
    status_ids = [s for s, _ in STATUSES]
    inv_rows = []
    for i in range(2 * n_products):
        status = rng.choice(status_ids) if rng.random() > 0.05 else "lost"  # non-member
        bins = ",".join(str(rng.randint(1, 60)) for _ in range(rng.randint(1, 3)))
        inv_rows.append([f"INV{i:06d}", date(), f"{rng.randint(1, 999)} Dock Rd, Bay {i % 9}",
                         rng.choice(mat_ids), status, str(rng.randint(0, 900)), bins])
    _csv(inst / "WarehouseInventory.csv",
         ["Inventory Record ID", "As of Date", "Warehouse Location", "has Material",
          "Inventory Status", "Quantity Units Available", "Bin Numbers"], inv_rows)
    bom_rows = []
    for i, pid in enumerate(prod_ids):
        for _ in range(rng.randint(3, 6)):
            bom_rows.append([f"BOM{i:05d}", pid, str(rng.randint(1, 4)), str(rng.randint(1, 20)),
                             rng.choice(mat_ids), f"Part {rng.randint(1, 999)}"])
    _csv(inst / "BillOfMaterials.csv",
         ["Bill of Materials ID", "has Product", "Revision", "quantity", "has Material",
          "Material Name"], bom_rows)
    mat_class = {}
    mat_rows = []
    for m in mat_ids:
        cid = rng.choice(classes)[0]
        mat_class[m] = cid
        mat_rows.append([m, f"Material {m}", rng.choice(mfr_ids), f"Maker {m}",
                         f"{rng.uniform(0.1, 900):.2f}", cid])
    _csv(inst / "Material.csv",
         ["Material Number", "Material Name", "has Manufacturer", "Manufacturer Name",
          "Material Unit Price", "has Material Class"], mat_rows)
    feats_of = defaultdict(list)
    for cid, _name, pid, pname in features:
        feats_of[cid].append((pid, pname))
    eav_rows = []
    for m in mat_ids:
        for pid, pname in feats_of[mat_class[m]]:
            for _ in range(rng.choice([1, 1, 1, 2, 3])):  # repeats → array values
                eav_rows.append([m, f"Material {m}", pid, pname, f"{rng.randint(1, 99)} mm"])
    _csv(inst / "MaterialFeatureValues.csv",
         ["Entity ID", "Material Name", "Property ID", "Material Feature", "Property Value"],
         eav_rows)
    return {"products": n_products, "manufacturers": n_mfr, "materials": n_mat,
            "bom_rows": len(bom_rows), "inventory_rows": len(inv_rows), "eav_rows": len(eav_rows),
            "csv_rows": n_products + n_mfr + n_mat + len(bom_rows) + len(inv_rows)
            + len(eav_rows) + len(STATUSES)}


def oracle_triples(root: Path) -> set[tuple]:
    """tests/oracle_reference.py over the corpus: (subj, pred, obj, kind)."""
    import sys

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "tests"))
    from csv_to_jsonld_processor_spark.manifest import Manifest
    from csv_to_jsonld_processor_spark.vocabulary import compile_vocabulary
    from oracle_reference import oracle_triples as _oracle

    m = Manifest.from_file(root / "manifest.json")
    return _oracle(m, compile_vocabulary(m, root), root)


def ensure(cache_dir: Path, make) -> Path:
    """Run ``make(tmp_dir)`` once per cache_dir; a half-written cache from
    a killed run is never reused."""
    done = cache_dir / ".done"
    if done.exists():
        return cache_dir
    import shutil

    shutil.rmtree(cache_dir, ignore_errors=True)
    cache_dir.mkdir(parents=True)
    make(cache_dir)
    done.write_text("ok")
    return cache_dir
