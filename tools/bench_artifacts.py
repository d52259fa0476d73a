"""Artifact-cache cost table: what each persisted artifact COSTS to
build vs to serve (round-8 VERDICT #6 — the serve-vs-build honesty must
itself be a measured artifact, not prose).

Method: point SPARK_GRAFT_ARTIFACT_ROOT at a fresh private root, run
every registered query once at --sf-dir so every artifact is built from
scratch (build seconds come from the in-library build log,
artifacts.build_log()), then time each artifact's SERVE path:

- json: open + json.load (what json_artifact pays on a warm cache)
- df:   spark.read.parquet(path).count() — an upper bound; real callers
        get the lazy scan fused into their query plan
- dir:  os.walk stat pass (dir artifacts are served as paths; consumers
        pay their own reads, which the df/json rows already represent)
- session: the same stat pass over a per-session scratch dir or managed
        table location (artifacts.session_dir / session_table)

Writes ARTIFACT_BENCH.json: one row per artifact (name, kind, build_sec,
serve_sec, bytes), plus totals. Run alone (one Spark process — the same
contention rule as bench.py).

Usage: python tools/bench_artifacts.py [--sf-dir DIR] [--json OUT]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dataengineeringutils_spark.blas import cap_blas_env  # noqa: E402

cap_blas_env(1, force=True)  # measurement entrypoint: override ambient (blas.py)

from dataengineeringutils_spark import artifacts  # noqa: E402
from dataengineeringutils_spark.registry import queries  # noqa: E402
from dataengineeringutils_spark.session import get_spark  # noqa: E402


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1")
    )
    ap.add_argument("--json", default=os.path.join(REPO, "ARTIFACT_BENCH.json"))
    args = ap.parse_args()

    private_root = tempfile.mkdtemp(prefix="artifact_bench_")
    os.environ["SPARK_GRAFT_ARTIFACT_ROOT"] = private_root
    spark = get_spark("artifact-bench")

    t0 = time.time()
    qs = queries()
    errors: dict[str, str] = {}
    for i, (name, fn) in enumerate(sorted(qs.items()), 1):
        try:
            fn(spark, args.sf_dir).count()
        except Exception as e:  # noqa: BLE001 — one op must not kill the table
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        if i % 100 == 0:
            print(f"... built through {i}/{len(qs)} ops "
                  f"({time.time() - t0:.0f}s, "
                  f"{len(artifacts.build_log())} artifacts)", flush=True)

    rows = []
    for entry in artifacts.build_log():
        # a managed table's location is a file: URI
        path, kind = entry["path"].removeprefix("file:"), entry["kind"]
        t1 = time.perf_counter()
        if kind == "json":
            with open(path) as fh:
                json.load(fh)
        elif kind == "df":
            spark.read.parquet(path).count()
        else:  # dir/session — served as a path; stat pass only
            _tree_bytes(path)
        serve = time.perf_counter() - t1
        rows.append(
            {
                "name": entry["name"],
                "kind": kind,
                "build_sec": entry["build_sec"],
                "serve_sec": round(serve, 4),
                "bytes": _tree_bytes(path),
            }
        )
    rows.sort(key=lambda r: -r["build_sec"])
    out = {
        "sf_dir": args.sf_dir,
        "n_artifacts": len(rows),
        "total_build_sec": round(sum(r["build_sec"] for r in rows), 2),
        "total_serve_sec": round(sum(r["serve_sec"] for r in rows), 2),
        "total_bytes": sum(r["bytes"] for r in rows),
        "elapsed_sec": round(time.time() - t0, 1),
        "n_query_errors": len(errors),
        "query_errors": errors,
        "serve_note": "df serve = full read-back count (upper bound; "
        "callers fuse the lazy scan into their plan); dir serve = stat "
        "pass (consumers pay reads accounted by their own rows)",
        "artifacts": rows,
    }
    with open(args.json, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in (
        "n_artifacts", "total_build_sec", "total_serve_sec",
        "total_bytes", "n_query_errors")}, separators=(",", ":")))
    import shutil

    shutil.rmtree(private_root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
