"""Artifact-legitimacy allowlist (round-11 VERDICT item 3).

The line, written once and enforced here (see ARCHITECTURE.md
"Artifact-legitimacy line"):

- ``base``  — pre-existing table state a production system owns BEFORE
  the query runs: transaction-log bases, versioned-table snapshot
  histories, the mergeable partial state an incremental-merge op merges
  new data into, keyed-table bases, and source files staged in the
  layout an op reads (stream batches, a queue topic, nested or
  partitioned copies). The declared op READS or MUTATES this state;
  building it per call would time table creation, not the operation.
- ``index`` — serving indexes a deployment builds once per corpus
  snapshot and every query call consumes: ANN cell assignments, LSH
  signature/bucket tables, MinHash/SimHash signatures, the shingle
  posting table, bucketed table layouts. The SEARCH over the index (bucket joins, candidate
  dedup, re-rank) must run inside the timed query.
- ``const`` — plan-shape constants and data statistics: quantile cuts
  (balance buckets, never change answers), row counts, approx-distinct
  stats, bucket weights, fixed query panels, small Gram matrices.
- ``materialized`` — upstream pipeline products consumed by a FAMILY of
  downstream declared ops (pair tables, co-purchase edge/degree tables,
  per-entity rollups, transition matrices), documented in SURVEY.md
  and priced per entry in ARTIFACT_BENCH.json (build vs serve seconds).
  The consuming op's OWN declared work (ranks, joins, windows,
  summaries over the product) must re-execute fully per call.

FORBIDDEN (must never appear here): a persisted join/aggregate of a
single declared query's own dataflow whose per-call remainder is a
trivial rollup — the round-11 ``css_triples`` / ``ivf_exact_top10``
class, both removed in round 12 (the triple collapse and the exact
ground truth now compute inside their consumers' timed plans).

Any NEW artifact name fails this test until it is classified below,
and every ``index`` and ``materialized`` name needs a priced row in
ARTIFACT_BENCH.json (``tools/bench_artifacts.py``).
"""

from __future__ import annotations

import ast
import json
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dataengineeringutils_spark",
)

# name (or f-string prefix up to the first "{") -> (class, justification)
ALLOWED = {
    # --- base: pre-existing table state -------------------------------
    "txn_merge_base": ("base", "MERGE target that exists before the op"),
    "txn_skip_table": ("base", "data-skipping table base"),
    "txn_cdf_table": ("base", "change-data-feed table base"),
    "keyed_tt_versions": ("base", "versioned-table snapshot history"),
    "incr_partials": ("base", "pre-existing mergeable partial state"),
    "keyed_compact": ("base", "upserted keyed table the op compacts"),
    "scan_nested": ("base", "orders staged as nested-struct parquet"),
    "dpp_lineitem": ("base", "lineitem staged month-partitioned"),
    "file_queue": ("base", "events staged as a segmented queue topic"),
    "stream_wm": ("base", "staged stream source batches"),
    "stream_counter": ("base", "staged stream source batches"),
    "stream_dd": ("base", "staged stream source batches"),
    "stream_static": ("base", "staged stream source batches"),
    "stream_sess_append": ("base", "staged stream source batches"),
    "stream_upsert": ("base", "staged stream source batches"),
    "stream_ssj": ("base", "staged stream source batches"),
    "stream_ssoj": ("base", "staged stream source batches"),
    "stream_incr": ("base", "staged stream source batches"),
    "stream_txn": ("base", "staged stream source batches"),
    # --- index: serving indexes built once per corpus snapshot --------
    "lsh_signatures": ("index", "multi-table LSH signature/bucket index"),
    "ivf_assignment": ("index", "IVF cell assignment (mod-50 quantizer)"),
    "ivf_fixedk_assignment": ("index", "IVF cell assignment (fixed-k)"),
    "simhash_fingerprints": ("index", "64-bit SimHash fingerprints"),
    "dedup_oph_state": ("index", "OPH MinHash signature state"),
    "dedup_shingles": ("index", "shingle posting table (corpus index)"),
    "lineitem_bucketed": ("index", "lineitem bucketed+sorted by join key"),
    "orders_bucketed": ("index", "orders bucketed+sorted by join key"),
    "ann_cells": ("index", "IVF vectors bucketed by cell id"),
    "dedup_stoplist_": ("const", "document-frequency stoplist"),
    # --- const: cuts, counts, stats, panels ---------------------------
    "rows_": ("const", "table row-count statistic"),
    "adistinct_": ("const", "approx-distinct statistic"),
    "cuts_": ("const", "range-bucket cuts of every two-phase op"),
    # the two wmedian names end in the digest of the cuts they follow
    "wmedian_targets_": ("const", "weighted-median target weights"),
    "wmedian_bucket_weights_": (
        "const",
        "|buckets|-row weight totals steering exact selection",
    ),
    "docs_exact_dup_counts": ("const", "two corpus-level counts"),
    "gram_fixed": ("const", "64x64 Gram matrix statistic"),
    "probe_panel_": ("const", "md5-ranked fixed query panel (eval input)"),
    "lsh_recall_panel": ("const", "vec_id<20 query panel (eval input)"),
    # --- materialized: upstream products with many consumers ----------
    "dedup_pairs": ("materialized", "verified near-dup pair table"),
    "dedup_pairs_capped": ("materialized", "capped-shingle pair table"),
    "dedup_minhash_candidates": (
        "materialized",
        "banding candidates over the OPH index",
    ),
    "docs_exact_dup_pairs": ("materialized", "exact-hash dup pair table"),
    "graph_copurchase_edges": ("materialized", "co-purchase edge table"),
    "graph_copurchase_degrees": ("materialized", "degree table"),
    "graph_component_labels": (
        "materialized",
        "connected-component labels (iterative peel output)",
    ),
    "markov_transition_matrix": ("materialized", "event-type transitions"),
    "pareto_per_user": ("materialized", "per-user event rollup"),
    "per_customer_spend": ("materialized", "per-customer spend rollup"),
    "ltv_per_customer": ("materialized", "per-customer LTV rollup"),
    "abc_part_rev": ("materialized", "per-part revenue rollup"),
    "abc_mig_rev_": ("materialized", "per-window part revenue rollup"),
    "basket_supports": ("materialized", "market-basket item supports"),
    "basket_total": ("materialized", "market-basket basket count"),
    "basket_pair_counts": ("materialized", "market-basket pair counts"),
    "skyline_candidates": ("materialized", "per-cell dominance candidates"),
    "emb_near_dup_pairs_cos": (
        "materialized",
        "embedding near-dup pair table",
    ),
}

# callee -> position of its name argument: the on-disk artifact
# builders, and the per-session memo's named callers (``session_dir``,
# ``session_table`` and the stream stagers whose keyed calls reach
# ``session_dir``; unkeyed staging rewrites per call and is no artifact)
_CALL = {
    "json_artifact": 1,
    "dir_artifact": 1,
    "df_artifact": 2,
    "session_dir": 1,
    "session_table": 1,
    "stage": 1,
    "run_streaming": 2,
}
_KEY_ARG = {"stage": "key", "run_streaming": "cache_key"}


def _calls(node, params=frozenset()):
    """Every call under ``node`` with the parameter names of the
    function it sits in (a name passed through from a parameter is a
    forwarding wrapper; its callers are checked instead)."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = child.args
            yield from _calls(
                child,
                params | {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs},
            )
            continue
        if isinstance(child, ast.Call):
            yield child, params
        yield from _calls(child, params)


def _call_sites():
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py") or fn == "artifacts.py":
                continue
            path = os.path.join(root, fn)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for call, params in _calls(tree):
                f = call.func
                callee = getattr(f, "id", None) or getattr(f, "attr", None)
                if callee not in _CALL:
                    continue
                key_arg = _KEY_ARG.get(callee)
                if key_arg and not any(
                    k.arg == key_arg
                    and not (isinstance(k.value, ast.Constant) and k.value.value is None)
                    for k in call.keywords
                ):
                    continue
                arg = call.args[_CALL[callee]]
                if isinstance(arg, ast.Name) and arg.id in params:
                    continue
                if isinstance(arg, ast.JoinedStr):  # f-string: match the prefix
                    head = arg.values[0]
                    arg = head if isinstance(head, ast.Constant) else None
                assert isinstance(arg, ast.Constant) and isinstance(arg.value, str), (
                    f"{path}:{call.lineno}: cannot extract artifact name "
                    "— keep the name a string literal"
                )
                yield path, arg.value


def test_every_artifact_name_is_classified():
    unlisted = []
    for path, name in _call_sites():
        if name in ALLOWED:
            continue
        # f-string prefixes are registered with a trailing underscore
        if any(
            name.startswith(p) for p in ALLOWED if p.endswith("_")
        ):
            continue
        unlisted.append((os.path.basename(path), name))
    assert not unlisted, (
        "unclassified artifact(s) — extend the allowlist ONLY after "
        f"checking the legitimacy line in this file's docstring: {unlisted}"
    )


def test_removed_gaming_artifacts_stay_removed():
    names = {n for _p, n in _call_sites()}
    for banned in ("css_triples", "ivf_exact_top10", "sim_lsh_topk"):
        assert banned not in names, (
            f"{banned} was removed as a query-intermediate cache "
            "(round-11 VERDICT item 2); do not reintroduce it"
        )


# built only past a size gate no fixture reaches, so a fixture run of
# tools/bench_artifacts.py cannot price them
UNPRICED_AT_FIXTURE_SCALE = {
    "abc_mig_rev_": "only when |part| >= two_phase_min_rows(); sf0.1 has 20k",
}


def test_every_index_and_materialized_artifact_is_priced():
    with open(os.path.join(os.path.dirname(PKG), "ARTIFACT_BENCH.json")) as fh:
        priced = {r["name"] for r in json.load(fh)["artifacts"]}
    unpriced = [
        name
        for name, (cls, _why) in ALLOWED.items()
        if cls in ("index", "materialized")
        and name not in UNPRICED_AT_FIXTURE_SCALE
        and not any(
            p == name or (name.endswith("_") and p.startswith(name))
            for p in priced
        )
    ]
    assert not unpriced, (
        "allowlisted index/materialized artifact(s) without a priced row "
        f"in ARTIFACT_BENCH.json — rerun tools/bench_artifacts.py: {unpriced}"
    )
