"""Correctness gate over a committed KG store.

Checks that hold for every seed:

* the chunk stage's byte-identity invariant — no page whose text
  re-extracted from its HTML differs from the crawl text;
* the emitted triples equal the corpus oracle (each page's ``truth``
  from ``sources.corpus.build_page``, which ``generate_truth`` wraps):
  every edge matches an oracle triple and every oracle triple has an
  edge (precision = recall = 1), matching names through each entity's
  variations as ``plans.quality.triple_prf`` does;
* every url fed in is in ``processed_urls``, and the edge_provenance
  row count equals the sum of the edges' ``n_sources``.

For seeds recorded in ``expected.json`` (taken from an unmodified
engine) it also compares every table's row count and an
order-independent digest of ``entities`` and ``edges``.
"""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
TABLES = ["chunks", "extracted", "entities", "resolution", "entity_provenance",
          "edges", "edge_provenance", "processed_urls"]


def table_digest(df) -> str:
    """sha256 of the table's rows as sorted canonical JSON lines."""
    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                  for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def outputs(store, full: bool) -> dict:
    """Row counts and invariant counters of a committed store; with
    ``full``, every table's row count and the content digests."""
    from pyspark.sql import functions as F

    tables = TABLES if full else ["edges", "edge_provenance", "processed_urls"]
    out = {f"rows.{t}": store.read(t).count() for t in tables}
    if full:
        out["digest.entities"] = table_digest(store.read("entities"))
        out["digest.edges"] = table_digest(store.read("edges"))
    out["text_mismatch_urls"] = (
        store.read("chunks").filter(~F.col("text_matches_crawl"))
        .select("url").distinct().count())
    out["sum_n_sources"] = store.read("edges").agg(F.sum("n_sources")).first()[0] or 0
    return out


def _norm(s) -> str:
    return (s or "").strip().lower()


def oracle(n_pages: int, seed: int, profile: str) -> set[tuple[str, str, str]]:
    """(pred, subject, object) oracle triples of pages [0, n), names
    normalised; the rows ``generate_truth`` yields, built in-process."""
    from metal_history_knowledge_graph_spark.sources.corpus import build_page

    return {(pred, _norm(s), _norm(o)) for i in range(n_pages)
            for pred, _, s, _, o in build_page(i, seed, profile)["truth"]}


def oracle_mismatch(store, truth: set[tuple[str, str, str]]) -> tuple[int, int]:
    """(unmatched edges, unmatched oracle triples) of the store's edges
    against ``truth`` (``oracle`` of the same pages)."""
    names: dict[int, set[str]] = {}
    for r in store.read("entities").select("canonical_id", "canonical_name",
                                           "variations").collect():
        names.setdefault(r.canonical_id, set()).update(
            _norm(v) for v in [r.canonical_name, *(r.variations or [])])
    matched: set[tuple] = set()
    unmatched_edges = 0
    for e in store.read("edges").select("pred", "subj_id", "obj_id").collect():
        hits = {(e.pred, s, o) for s in names.get(e.subj_id, ())
                for o in names.get(e.obj_id, ())} & truth
        matched |= hits
        unmatched_edges += not hits
    return unmatched_edges, len(truth - matched)


def check(store, truth, n_urls: int, expected: dict | None,
          full: bool) -> tuple[dict, list[str]]:
    """Run the gate; returns (observed outputs, list of failures).
    ``full`` also collects what ``record`` stores (implied by ``expected``)."""
    got = outputs(store, full or bool(expected))
    bad_edges, missed = oracle_mismatch(store, truth)
    got["oracle_unmatched_edges"], got["oracle_missed_triples"] = bad_edges, missed
    failures = []
    if got["text_mismatch_urls"]:
        failures.append(f"text_mismatch_urls={got['text_mismatch_urls']}")
    if bad_edges or missed:
        failures.append(f"oracle: {bad_edges} unmatched edges, {missed} missed triples")
    if got["rows.processed_urls"] != n_urls:
        failures.append(f"processed_urls={got['rows.processed_urls']} != {n_urls}")
    if got["rows.edge_provenance"] != got["sum_n_sources"]:
        failures.append(f"edge_provenance={got['rows.edge_provenance']} != "
                        f"sum(n_sources)={got['sum_n_sources']}")
    for k, want in (expected or {}).items():
        if got.get(k) != want:
            failures.append(f"{k}={got.get(k)!r} != recorded {want!r}")
    return got, failures


def _load() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def _size_key(size: dict) -> str:
    return f"{size['profile']}:{size['pages']}+{size['batch']}"


def expected_for(workload: str, size: dict, seed: int) -> dict:
    """Recorded outputs per check phase for this workload, size and seed."""
    return _load().get(workload, {}).get(_size_key(size), {}).get(str(seed), {})


def record(workload: str, size: dict, seed: int, phase: str, got: dict) -> None:
    """Store ``got`` (counts and digests only) in expected.json."""
    data = _load()
    seeds = data.setdefault(workload, {}).setdefault(_size_key(size), {})
    seeds.setdefault(str(seed), {})[phase] = {
        k: v for k, v in got.items() if k.startswith(("rows.", "digest."))}
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
