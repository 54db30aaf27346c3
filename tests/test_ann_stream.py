"""Streaming vector ingestion into the durable IVF index: the streamed
index's list CONTENT must be identical to bulk-indexing the whole
corpus (appends replay the persisted assignment rule), and the
restart-resume drain must fold each arrival exactly once — no vector
duplicated or lost across the checkpoint restart.
"""

from pyspark.sql import functions as F

from grebi_spark import artifacts
from grebi_spark.functions.similarity import (
    _persisted_index_root,
    _resolve_index_dir,
    _stream_index_root,
    ann_index_persist_topk,
    ann_stream_ingest_topk,
)

SF = "/root/testdata/sf0.001"


def _lists(spark, builder):
    # exact registry key: a prefix match could pick an index another test
    # module built for a DIFFERENT sf_dir in the same session
    root = artifacts.peek(builder, spark, SF)
    assert root is not None
    vdir = _resolve_index_dir(spark, root)
    return spark.read.parquet(f"{vdir}/lists")


def test_streamed_index_equals_bulk_index(spark):
    streamed_topk = [tuple(r) for r in ann_stream_ingest_topk(spark, SF).collect()]
    bulk_topk = [tuple(r) for r in ann_index_persist_topk(spark, SF).collect()]
    assert streamed_topk == bulk_topk
    streamed = _lists(spark, _stream_index_root)
    bulk = _lists(spark, _persisted_index_root)
    cells = lambda df: sorted(  # noqa: E731
        (r["vec_id"], int(r["cell"])) for r in df.select("vec_id", "cell").collect()
    )
    assert cells(streamed) == cells(bulk)


def test_stream_folds_each_vector_exactly_once(spark):
    ann_stream_ingest_topk(spark, SF)  # session-cached build
    streamed = _lists(spark, _stream_index_root)
    n_corpus = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert streamed.count() == n_corpus
    assert streamed.select("vec_id").distinct().count() == n_corpus


def test_filtered_topk_prefilters_before_election(spark):
    """Pre-filter semantics: every result row satisfies the predicate,
    the election still fills k, and — whenever the unfiltered top-5's
    odd-label subset is short — the filtered election ranks PAST the
    unfiltered top-5 (the property a post-filter cannot deliver)."""
    from grebi_spark.functions.similarity import (
        ann_filtered_topk,
        ann_index_persist_topk,
    )

    filtered = ann_filtered_topk(spark, SF).collect()
    assert len(filtered) == 5
    assert all(r["label"] % 2 == 1 for r in filtered)
    assert [r["dist"] for r in filtered] == sorted(r["dist"] for r in filtered)

    unfiltered_ids = [r["vec_id"] for r in ann_index_persist_topk(spark, SF).collect()]
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id").isin(unfiltered_ids))
        .collect()
    }
    odd_subset = {v for v in unfiltered_ids if labels[v] % 2 == 1}
    if len(odd_subset) < 5:  # the post-filter would come up short here
        beyond = {r["vec_id"] for r in filtered} - set(unfiltered_ids)
        assert beyond, "filtered election must rank past the unfiltered top-5"


def test_crash_replay_of_a_folded_batch_is_skipped(spark):
    """foreachBatch re-delivers a batch whose work crashed after its
    marker landed; the batch-id-gated fold must skip the re-append —
    the index's list content is unchanged by the replay."""
    import os

    from grebi_spark.functions.similarity import fold_ann_batch, ingest_namespace

    ann_stream_ingest_topk(spark, SF)
    root = artifacts.peek(_stream_index_root, spark, SF)
    assert root is not None
    before = sorted(
        (r["vec_id"], int(r["cell"]))
        for r in _lists(spark, _stream_index_root).collect()
    )
    # replay micro-batch 0 — arrival_1, the first drain's single file;
    # its _APPENDED marker landed during the stream (markers are
    # namespaced by the stream's checkpoint lineage)
    ns = ingest_namespace(os.path.join(root, "ckpt"))
    replay_rows = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        "vec_id % 8 == 3"
    )
    ran = fold_ann_batch(
        spark, root, replay_rows.select("vec_id", "embedding"), 0, run_id=ns
    )
    assert ran is False
    after = sorted(
        (r["vec_id"], int(r["cell"]))
        for r in _lists(spark, _stream_index_root).collect()
    )
    assert after == before


def test_fresh_checkpoint_lineage_is_not_swallowed_by_old_markers(spark):
    """A recreated checkpoint restarts micro-batch ids at 0; with the
    markers namespaced by checkpoint lineage, the NEW stream's batch 0
    must fold (the un-namespaced layout silently dropped it as a replay
    of the dead stream's batch 0 — data loss, not dedupe). Runs on a
    scratch index root: the session-cached stream index is shared with
    the parity board and must not gain duplicate vectors."""
    import tempfile

    from grebi_spark.functions.similarity import (
        _next_index_version,
        _publish_index_version,
        _trained_index_inputs,
        _write_index_version,
        fold_ann_batch,
        ingest_namespace,
    )

    root = tempfile.mkdtemp(prefix="grebi_ann_ns_")
    e_full, cents, routed, k_int = _trained_index_inputs(spark, SF)
    base = e_full.filter(F.col("vec_id") % 4 != 3)
    vname = _next_index_version(spark, root)
    _write_index_version(spark, f"{root}/{vname}", base, cents, routed, k_int)
    _publish_index_version(spark, root, vname)

    # the namespace is the checkpoint's QUERY ID (its metadata file):
    # recreating a checkpoint AT THE SAME PATH — the standard corrupted-
    # checkpoint remediation — mints a fresh id and thus a fresh
    # namespace; a path digest alone would still collide
    import json
    import os as _os

    ckpt = f"{root}/ckpt_same_path"
    _os.makedirs(ckpt)
    with open(f"{ckpt}/metadata", "w") as fh:
        json.dump({"id": "11111111-aaaa-bbbb-cccc-222222222222"}, fh)
    ns_first = ingest_namespace(ckpt)
    with open(f"{ckpt}/metadata", "w") as fh:  # recreated at the same path
        json.dump({"id": "33333333-dddd-eeee-ffff-444444444444"}, fh)
    assert ingest_namespace(ckpt) != ns_first

    batch = (
        e_full.filter(F.col("vec_id") % 8 == 3)
        .limit(3)
        .select("vec_id", "embedding")
    )
    old_ns = ingest_namespace(f"{root}/ckpt_original")
    assert fold_ann_batch(spark, root, batch, 0, run_id=old_ns) is True
    # same lineage, same batch id → crash replay, skipped
    assert fold_ann_batch(spark, root, batch, 0, run_id=old_ns) is False
    # RECREATED checkpoint: ids restart at 0, but the namespace is fresh
    n_before = spark.read.parquet(
        f"{_resolve_index_dir(spark, root)}/lists"
    ).count()
    fresh_ns = ingest_namespace(f"{root}/ckpt_recreated")
    assert fold_ann_batch(spark, root, batch, 0, run_id=fresh_ns) is True
    n_after = spark.read.parquet(
        f"{_resolve_index_dir(spark, root)}/lists"
    ).count()
    assert n_after == n_before + 3


def test_ingest_namespace_refuses_silent_digest_fallback(spark):
    """The path-digest fallback is only legitimate when no metadata
    file EXISTS yet. A metadata file that exists but cannot be parsed
    must raise — the digest is STABLE across checkpoint recreation at
    the same path, so silently falling back would swallow a new
    lineage's first batches as fake replays (the exact bug the
    namespace exists to prevent). The read goes through the
    scheme-aware Hadoop FS, not a local open()."""
    import json
    import os
    import tempfile

    import pytest

    from grebi_spark.functions.similarity import ingest_namespace

    root = tempfile.mkdtemp(prefix="grebi_ns_guard_")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(ckpt)

    # no metadata file at all: legit pre-start fallback, stable digest
    ns_absent = ingest_namespace(ckpt)
    assert ns_absent == ingest_namespace(ckpt)

    # corrupt metadata: REFUSE the fallback
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError, match="not JSON"):
        ingest_namespace(ckpt)

    # metadata without an id field: refuse too
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        json.dump({"something": "else"}, fh)
    with pytest.raises(ValueError, match="no 'id'"):
        ingest_namespace(ckpt)

    # healthy metadata: the query id wins, and differs from the digest
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        json.dump({"id": "0a1b2c3d-4e5f-6789-abcd-ef0123456789"}, fh)
    assert ingest_namespace(ckpt) == "0a1b2c3d4e5f6789"
    assert ingest_namespace(ckpt) != ns_absent
