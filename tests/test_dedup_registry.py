"""Incremental corpus-dedup registry (r12 verdict #3): any batching of
the fold reconciles EXACTLY with the one-shot dedup_cluster_canonical
keep-list; a cluster merge can DEMOTE a previously-kept doc (the case
the one-shot never sees); re-ingest and empty batches are identities;
the streaming twin over the partitioned versioned state reconciles,
replays idempotently, and writes only touched buckets."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from cam_location_addressing_feature_service_etl_spark.operators.dedup_registry import (
    dedup_fold_increment,
    empty_dedup_dfreq,
    empty_dedup_postings,
    empty_dedup_registry,
)
from cam_location_addressing_feature_service_etl_spark.streaming.corpus_dedup import (
    dedup_registry_stream,
    fold_doc_batch,
    read_dedup_registry,
    read_doc_stream,
)
from cam_location_addressing_feature_service_etl_spark.tables import load
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

from tests.conftest import SF_SMOKE

DOC_SCHEMA = "doc_id bigint, text string"


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _fold_chain(spark, documents, splits):
    registry = empty_dedup_registry(spark)
    postings = empty_dedup_postings(spark)
    dfreq = empty_dedup_dfreq(spark)
    for cond in splits:
        registry, postings, dfreq = dedup_fold_increment(
            registry, postings, documents.filter(cond), dfreq=dfreq
        )
        registry = registry.localCheckpoint()
        postings = postings.localCheckpoint()
        dfreq = dfreq.localCheckpoint()
    return registry, postings, dfreq


def _registry_out(registry):
    return registry.select(
        "doc_id",
        F.col("label").alias("component_id"),
        "canonical_id",
        "n_tokens",
        "kept",
    )


def test_incremental_reconciles_with_oneshot(spark):
    inc = QUERIES["dedup_incremental_registry"](spark, SF_SMOKE)
    one = QUERIES["dedup_cluster_canonical"](spark, SF_SMOKE)
    got, want = _rows(inc), _rows(one)
    assert got == want and len(want) > 0
    assert any(not r[4] for r in want)  # some docs actually dropped


def test_batching_is_order_independent(spark):
    documents = load(spark, SF_SMOKE, "documents").localCheckpoint()
    two_way, _, _ = _fold_chain(
        spark,
        documents,
        [F.col("doc_id") % 2 == 1, F.col("doc_id") % 2 == 0],
    )
    four_way, _, _ = _fold_chain(
        spark,
        documents,
        [F.col("doc_id") % 4 == i for i in (2, 0, 3, 1)],
    )
    want = _rows(QUERIES["dedup_cluster_canonical"](spark, SF_SMOKE))
    assert _rows(_registry_out(two_way)) == want
    assert _rows(_registry_out(four_way)) == want


def _w(lo, hi):
    return " ".join(f"w{i}" for i in range(lo, hi))


def test_merge_demotes_previously_kept_doc(spark):
    """Batch A: docs 10 (10 tokens) and 20 (9-token near-dup) cluster;
    10 is canonical (longest), kept. Batch B: doc 5 (12-token superset
    of 10) bridges in — the merged component's canonical moves to 5
    and doc 10 is DEMOTED kept True → False, with the component label
    lowered to 5 (min doc_id in the merged component)."""
    a = spark.createDataFrame(
        [(10, _w(1, 11)), (20, _w(1, 10))], DOC_SCHEMA
    )
    b = spark.createDataFrame([(5, _w(1, 13))], DOC_SCHEMA)
    reg_a, post_a, df_a = _fold_chain(spark, a, [F.lit(True)])
    rows_a = _rows(_registry_out(reg_a))
    assert rows_a == {
        (10, 10, 10, 10, True),
        (20, 10, 10, 9, False),
    }
    reg_b, _, _ = dedup_fold_increment(reg_a, post_a, b, dfreq=df_a)
    rows_b = _rows(_registry_out(reg_b))
    assert rows_b == {
        (5, 5, 5, 12, True),
        (10, 5, 5, 10, False),  # the demotion
        (20, 5, 5, 9, False),
    }


def test_reingest_and_empty_batch_are_identities(spark):
    docs = spark.createDataFrame(
        [(1, _w(1, 11)), (2, _w(1, 10)), (3, "unrelated text entirely")],
        DOC_SCHEMA,
    )
    reg, post, dfq = _fold_chain(spark, docs, [F.lit(True)])
    before = _rows(_registry_out(reg))
    reg2, post2, df2 = dedup_fold_increment(reg, post, docs, dfreq=dfq)
    assert _rows(_registry_out(reg2)) == before
    assert post2.count() == post.count()
    assert _rows(df2) == _rows(dfq)  # re-ingest: df state is identity too
    reg3, _, df3 = dedup_fold_increment(
        reg, post, spark.createDataFrame([], DOC_SCHEMA), dfreq=dfq
    )
    assert _rows(_registry_out(reg3)) == before
    assert _rows(df3) == _rows(dfq)


def test_streaming_folds_reconcile_and_replay_idempotent(spark, tmp_path):
    documents = load(spark, SF_SMOKE, "documents").localCheckpoint()
    reg_dir = str(tmp_path / "registry")
    post_dir = str(tmp_path / "postings")
    batches = [documents.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for bid, batch in enumerate(batches):
        fold_doc_batch(batch, bid, reg_dir, post_dir)
    committed = _rows(_registry_out(read_dedup_registry(spark, reg_dir)))
    want = _rows(QUERIES["dedup_cluster_canonical"](spark, SF_SMOKE))
    assert committed == want
    fold_doc_batch(batches[2], 2, reg_dir, post_dir)  # foreachBatch replay
    assert _rows(_registry_out(read_dedup_registry(spark, reg_dir))) == committed


def test_stream_e2e_and_touched_bucket_write_io(spark, tmp_path):
    """End to end through writeStream/foreachBatch, then a 1-doc batch:
    the second version's registry data dir holds at most the new doc's
    bucket plus its component's buckets — never all DEDUP_BUCKETS —
    the write-IO ∝ touched partitions claim, measured on disk."""
    base = [
        (i, f"doc {i} " + " ".join(f"t{i}x{j}" for j in range(8)))
        for i in range(1, 41)
    ]
    d = tmp_path / "docs_in"
    d.mkdir()
    now = 1_700_000_000
    f0 = d / "b0.parquet"
    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": i, "text": t} for i, t in base],
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        ),
        f0,
    )
    os.utime(f0, (now, now))
    f1 = d / "b1.parquet"
    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": 100, "text": "a lone new singleton document"}],
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        ),
        f1,
    )
    os.utime(f1, (now + 60, now + 60))
    reg_dir = str(tmp_path / "registry")
    post_dir = str(tmp_path / "postings")
    q = dedup_registry_stream(
        read_doc_stream(spark, str(d), max_files_per_trigger=1),
        reg_dir,
        post_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    got = _rows(_registry_out(read_dedup_registry(spark, reg_dir)))
    assert (100, 100, 100, 5, True) in got
    assert len(got) == 41
    # all 40 base docs are mutually dissimilar singletons; batch 1
    # touches exactly doc 100's bucket
    data1 = os.path.join(reg_dir, "v=1", "data")
    pids1 = [n for n in os.listdir(data1) if n.startswith("_pid=")]
    assert len(pids1) == 1


def test_stream_fold_dispersion_policy_threads_through(spark, tmp_path):
    """compact_dispersion reaches both per-table commits: folds that
    would disperse ownership across many versions stay capped."""
    import json
    import os

    from cam_location_addressing_feature_service_etl_spark.streaming.corpus_dedup import (
        fold_doc_batch,
        read_dedup_registry,
    )

    reg = str(tmp_path / "reg")
    post = str(tmp_path / "post")
    docs = [
        (i, f"alpha beta gamma delta epsilon zeta token{i} eta theta iota")
        for i in range(12)
    ]
    for b in range(4):
        batch = spark.createDataFrame(
            [d for d in docs if d[0] % 4 == b], "doc_id bigint, text string"
        )
        fold_doc_batch(
            batch, b, reg, post, num_buckets=8, compact_dispersion=2
        )
    # every ingested doc present exactly once
    out = read_dedup_registry(spark, reg)
    assert out.count() == 12
    # dispersion stayed capped on the registry manifests
    for b in range(1, 4):
        with open(os.path.join(reg, f"v={b}", "manifest.json")) as f:
            owners = {int(o) for o in json.load(f)["pids"].values()}
        assert len(owners) <= 3


def test_dfreq_state_matches_postings_aggregate_and_migration(spark):
    """The additive df side state must equal a from-zero groupBy over
    the postings after ANY batching (df' = df + df_batch, exactly);
    and the migration path (dfreq=None over standing postings) must
    land on the identical registry and df state as the threaded
    steady-state fold."""
    documents = load(spark, SF_SMOKE, "documents").localCheckpoint()
    reg, post, dfq = _fold_chain(
        spark,
        documents,
        [F.col("doc_id") % 3 == i for i in range(3)],
    )
    want_df = _rows(
        post.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    assert _rows(dfq) == want_df and len(want_df) > 0

    # migration: fold one more batch WITHOUT the side state — the
    # fold derives it from postings once; result identical to the
    # threaded fold of the same batch
    extra = spark.createDataFrame(
        [(900001, "entirely fresh migration document text"),
         (900002, "entirely fresh migration document body")],
        DOC_SCHEMA,
    )
    reg_t, post_t, df_t = dedup_fold_increment(reg, post, extra, dfreq=dfq)
    reg_m, post_m, df_m = dedup_fold_increment(reg, post, extra, dfreq=None)
    assert _rows(_registry_out(reg_m)) == _rows(_registry_out(reg_t))
    assert _rows(df_m) == _rows(df_t)
    assert post_m.count() == post_t.count()


def test_fold_gate_picks_branch_and_output_invariant(spark):
    """The FOLD's measured gate (batch-restricted df profile, r15):
    prefix on a boilerplate batch, naive on a rich-vocabulary batch,
    naive again when boilerplate exceeds the 1-tau prefix fraction —
    and the folded registry is IDENTICAL whichever branch runs (the
    gate is economics, never semantics)."""
    import cam_location_addressing_feature_service_etl_spark.operators.dedup_registry as dr

    footer = (
        " shared footer terms of service all rights reserved"
        " privacy policy applies to every document"
    )
    base = [
        (i, " ".join(f"t{i}x{j}" for j in range(30))) for i in range(40)
    ]
    variants = [
        (100 + i, " ".join(f"t{i}x{j}" for j in range(28))) for i in range(5)
    ]
    rich = spark.createDataFrame(base + variants, DOC_SCHEMA)
    boiler = rich.selectExpr("doc_id", f"text || '{footer}' AS text")
    tiny = [
        (i, " ".join(f"t{i}x{j}" for j in range(6)) + footer)
        for i in range(40)
    ] + [
        (100 + i, " ".join(f"t{i}x{j}" for j in range(5)) + footer)
        for i in range(5)
    ]
    short_boiler = spark.createDataFrame(tiny, DOC_SCHEMA)

    calls: list[str] = []
    orig_naive, orig_prefix = dr._fold_pairs_naive, dr._fold_pairs_prefix

    def naive_spy(*a, **k):
        calls.append("naive")
        return orig_naive(*a, **k)

    def prefix_spy(*a, **k):
        calls.append("prefix")
        return orig_prefix(*a, **k)

    dr._fold_pairs_naive, dr._fold_pairs_prefix = naive_spy, prefix_spy
    try:
        for docs, want_branch in (
            (rich, "naive"),
            (boiler, "prefix"),
            (short_boiler, "naive"),
        ):
            # split so the SECOND fold probes a standing index (the
            # steady-state shape the gate prices)
            calls.clear()
            reg, post, dfq = _fold_chain(
                spark, docs, [F.col("doc_id") < 100, F.col("doc_id") >= 100]
            )
            assert calls[-1] == want_branch, (want_branch, calls)
            got = _rows(_registry_out(reg))
            # output invariance: force the OTHER branch via the gate's
            # economics being bypassed — compare against the one-shot
            one = _fold_chain(spark, docs, [F.lit(True)])[0]
            assert got == _rows(_registry_out(one))
            assert any(not r[4] for r in got)  # variants actually drop
    finally:
        dr._fold_pairs_naive, dr._fold_pairs_prefix = orig_naive, orig_prefix

