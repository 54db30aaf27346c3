"""The session-artifact registry (grebi_spark.artifacts): one memo for
every build-once/query-many artifact, with re-registration of persisted
frames after clearCache() and recursive file stamps."""

from __future__ import annotations

import ast
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel

from grebi_spark import artifacts

PKG = pathlib.Path(__file__).resolve().parents[1] / "grebi_spark"
_MUTATORS = {"add", "setdefault", "update", "pop", "popitem", "clear", "discard", "remove"}


def _module_memos(tree: ast.Module) -> list[str]:
    """Module-level dicts/sets that are created empty or mutated anywhere
    in the module — the shape of a hand-rolled memo."""
    containers = {}
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_call = (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in ("dict", "set", "defaultdict", "OrderedDict")
        )
        if not (isinstance(value, (ast.Dict, ast.Set, ast.DictComp, ast.SetComp)) or is_call):
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            is_call and not value.args and not value.keywords
        )
        for t in targets:
            if isinstance(t, ast.Name):
                containers[t.id] = empty
    mutated = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, (ast.Store, ast.Del))
            and isinstance(node.value, ast.Name)
        ):
            mutated.add(node.value.id)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _MUTATORS
            and isinstance(node.func.value, ast.Name)
        ):
            mutated.add(node.func.value.id)
    return sorted(n for n, empty in containers.items() if empty or n in mutated)


def test_no_module_keeps_its_own_session_memo():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "artifacts.py":
            continue
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG.parent)
        offenders += [
            f"{rel}:{n.lineno} applicationId"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "applicationId"
        ]
        offenders += [f"{rel}: module-level memo {name}" for name in _module_memos(tree)]
    assert offenders == []


def test_guard_flags_a_hand_rolled_memo():
    tree = ast.parse(
        "_C: dict[str, int] = {}\n"
        "TABLE = {'a': 1}\n"
        "def f(k):\n"
        "    if k not in _C:\n"
        "        _C[k] = 1\n"
        "    return _C[k]\n"
    )
    assert _module_memos(tree) == ["_C"]


def test_key_peek_and_forget(spark):
    calls = []

    @artifacts.artifact
    def build(spark, name, n=1):
        calls.append((name, n))
        return [name] * n

    assert artifacts.peek(build, spark, "a") is None
    first = build(spark, "a")
    assert build(spark, "a", n=1) is first  # defaults bind into the key
    assert build(spark, "b") == ["b"] and len(calls) == 2
    assert artifacts.peek(build, spark, "a") is first
    artifacts.forget(build)
    assert artifacts.peek(build, spark, "a") is None
    assert build(spark, "a") == first and len(calls) == 3


def test_reregisters_persisted_frames_only(spark):
    @artifacts.artifact
    def frames(spark):
        base = spark.range(10)
        return base.localCheckpoint(), base.selectExpr("id * 2 AS x").persist()

    ckpt, kept = frames(spark)
    spark.catalog.clearCache()
    assert kept.storageLevel == StorageLevel.NONE
    again = frames(spark)
    assert again[0] is ckpt and again[1] is kept
    assert kept.storageLevel != StorageLevel.NONE
    assert ckpt.storageLevel == StorageLevel.NONE
    kept.unpersist()
    artifacts.forget(frames)


def test_persisted_handles_survive_clear_cache(spark, sf_dir):
    """The multimodal frame handle and the IVF cell assignment come back
    as the SAME handle, persisted again, after clearCache(); a
    localCheckpoint artifact frame is never persisted by the registry."""
    from grebi_spark.functions import multimodal, similarity
    from grebi_spark.plans import graph_analytics

    for query, builder in (
        (multimodal.multimodal_frame_sample, multimodal._frames),
        (similarity.ann_ivf_topk, similarity._ivf_assignment),
    ):
        query(spark, sf_dir).collect()
        handle = artifacts.peek(builder, spark, sf_dir)
        assert handle is not None and handle.storageLevel != StorageLevel.NONE
        spark.catalog.clearCache()
        assert handle.storageLevel == StorageLevel.NONE
        query(spark, sf_dir).collect()
        assert builder(spark, sf_dir) is handle
        assert handle.storageLevel != StorageLevel.NONE

    half = graph_analytics.weighted_half_edges(spark, sf_dir)
    assert half.storageLevel == StorageLevel.NONE
    spark.catalog.clearCache()
    assert graph_analytics.weighted_half_edges(spark, sf_dir) is half
    assert half.storageLevel == StorageLevel.NONE
    spark.catalog.clearCache()


def test_core_search_bm25_is_memoised(spark, sf_dir):
    """The BM25 top-k over the maintained core is scored and
    checkpointed once per session; the /search page over the same core
    is rebuilt per call."""
    from grebi_spark.plans import parity

    top = parity.core_search_bm25(spark, sf_dir)
    assert parity.core_search_bm25(spark, sf_dir) is top
    page = parity.core_search_serving(spark, sf_dir)
    assert parity.core_search_serving(spark, sf_dir) is not page


def test_partitioned_schema_stamp_is_recursive(spark, tmp_path):
    """A part file rewritten in place inside a key=value subdirectory
    must invalidate the memoised schema even when the top-level
    directory's mtime is unchanged."""
    from grebi_spark.streaming.ops import _parquet_schema

    root = tmp_path / "tbl"
    part = root / "k=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), part)
    top = os.stat(root)
    assert [f.name for f in _parquet_schema(spark, str(root))] == ["a", "k"]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    # a later mtime even on filesystems with one-second timestamps
    os.utime(part, ns=(top.st_atime_ns, top.st_mtime_ns + 10**9))
    os.utime(root, ns=(top.st_atime_ns, top.st_mtime_ns))
    assert [f.name for f in _parquet_schema(spark, str(root))] == ["a", "b", "k"]
