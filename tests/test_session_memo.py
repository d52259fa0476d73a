"""Everything built once per Spark application goes through one memo,
``artifacts.per_session``, and every per-session scratch dir or managed
table lives at the place ``artifacts.session_name`` derives from the
memo's own key.

Pinned here: switching fixtures A -> B -> A inside one session serves A's
artifact again (not B's, not a rebuild of a shared path), and no other
module keys state by ``applicationId`` or keeps a module-level cache.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pyarrow.parquet as pq
import pytest

from dataengineeringutils_spark.registry import queries

PKG = pathlib.Path(__file__).resolve().parent.parent / "dataengineeringutils_spark"

# tables whose alternate rows the variant fixture drops
HALVED = ("orders", "lineitem", "events", "embeddings")

# ops that build a per-session artifact from the fixture
MEMO_OPS = (
    "scan_nested_pruned",
    "keyed_table_compact",
    "join_dpp_pruned",
    "sink_bucketed_join",
    "sink_ann_cell_layout",
    "stream_python_queue_source",
)


@pytest.fixture(scope="module")
def variant_dir(sf_dir, tmp_path_factory) -> str:
    """A second fixture with the SAME basename as ``sf_dir``: the four
    fact tables keep every other row, the rest are copied."""
    out = tmp_path_factory.mktemp("variant") / os.path.basename(sf_dir)
    out.mkdir()
    for fn in sorted(os.listdir(sf_dir)):
        src = os.path.join(sf_dir, fn)
        if fn.removesuffix(".parquet") in HALVED:
            t = pq.read_table(src)
            pq.write_table(t.take(list(range(0, t.num_rows, 2))), out / fn)
        else:
            shutil.copy(src, out / fn)
    return str(out)


def _rows(spark, name: str, sf_dir: str) -> list:
    return sorted(map(tuple, queries()[name](spark, sf_dir).collect()), key=repr)


@pytest.mark.parametrize("name", MEMO_OPS)
def test_switching_fixtures_serves_each_its_own_artifact(
    spark, sf_dir, variant_dir, name, tmp_path, monkeypatch
):
    # a private on-disk artifact root: the variant's artifacts must not
    # land in (or be served from) the shared one
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_ROOT", str(tmp_path))
    a1 = _rows(spark, name, sf_dir)
    b = _rows(spark, name, variant_dir)
    a2 = _rows(spark, name, sf_dir)
    assert a2 == a1, f"{name}: A served another fixture's artifact after B"
    assert b != a1, f"{name}: the halved variant should change the answer"


def test_session_name_separates_keys_that_fold_alike():
    from dataengineeringutils_spark.artifacts import session_name

    assert session_name(("x", "/d/sf0.1")) != session_name(("x", "/d/sf0_1"))
    assert session_name(("x", "/a/sf0.001")) != session_name(("x", "/b/sf0.001"))
    assert session_name(("x", "/d/sf0.1")).isidentifier()


# module-level mutable state outside artifacts.py, and why it is not
# per-session: registries and process-level caches keyed by path
PROCESS_STATE = {
    ("paths.py", "_PATH_REWRITES"): "test-only path rewrite registry",
    ("paths.py", "_swept"): "scratch roots swept once per process",
    ("registry.py", "_QUERIES"): "the op registry",
    ("registry.py", "_ORACLES"): "the oracle registry",
    ("tables.py", "_TABLE_BYTES_CACHE"): "fixture file sizes, per path",
}


def _module_state(tree: ast.Module):
    """Names bound at module level to an empty dict or set: the shape of
    every hand-rolled cache this package has had."""
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in ("dict", "set", "defaultdict")
            and not value.args
        )
        if empty:
            yield from (t.id for t in targets if isinstance(t, ast.Name))


def test_only_the_memo_module_keeps_per_session_state():
    """Source pin over the whole package: ``applicationId`` is read only
    by ``artifacts.py``, and no other module keeps module-level dict/set
    state beyond the process-level entries named above."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "artifacts.py":
            continue
        src = path.read_text()
        if "applicationId" in src:
            offenders.append(f"{path.name}: applicationId")
        for name in _module_state(ast.parse(src)):
            if (path.name, name) not in PROCESS_STATE:
                offenders.append(f"{path.name}: module-level {name}")
    assert not offenders, offenders
