"""Contract tests for the session-scoped derivation memos
(tables.session_memo) — the shingle memo (dedup._shingled), the
banded-edge memo (graph.banded_cooc_edges) and the BPE-encode memo
(training._bpe_encoded). Each exists so a session
pays a heavy shared derivation once; these pin the parts a refactor
could silently break: hit-returns-same-frame, parameter keys are
distinct, switching corpus dir evicts (no stale data, no unbounded
growth), mutating the SAME dir's files evicts (the keys carry
tables.dir_fingerprint), and a cache hit returns the same ROWS as a
cold compute."""

from __future__ import annotations

import pytest

# integration-style tier: excluded from the default fast gate run
# (pytest.ini); the full suite runs with -m "slow or not slow"
pytestmark = pytest.mark.slow

from dig_aggregator_core_spark import tables
from dig_aggregator_core_spark.operators import dedup, graph, training


def test_banded_edges_hit_returns_same_frame(spark, sf_dir):
    a = graph.banded_cooc_edges(spark, sf_dir)
    b = graph.banded_cooc_edges(spark, sf_dir)
    assert a is b


def test_banded_edges_params_key_separately(spark, sf_dir):
    base = graph.banded_cooc_edges(spark, sf_dir)
    sym = graph.banded_cooc_edges(spark, sf_dir, symmetric=True)
    wide = graph.banded_cooc_edges(spark, sf_dir, band=1)
    assert base is not sym and base is not wide
    # symmetric doubles the oriented edge set exactly
    assert sym.count() == 2 * base.count()
    # the unmemoized path must not poison the cache
    raw = graph.banded_cooc_edges(spark, sf_dir, checkpoint=False)
    assert raw is not base
    assert graph.banded_cooc_edges(spark, sf_dir) is base


def test_banded_edges_dir_switch_keeps_recent_bounded(spark, sf_dir, tmp_path):
    """ADVICE r10: switching corpus dir must NOT evict the other dir's
    entry (an alternating sf0.01/sf0.1 sweep would thrash the memo and
    truncate lineage under still-held results) — but the number of
    distinct dirs memoized per session stays BOUNDED (session_memo's
    _MEMO_MAX_DIRS, oldest first)."""
    import pyspark.sql.functions as F
    import datetime

    a = graph.banded_cooc_edges(spark, sf_dir)
    base = datetime.datetime(2024, 1, 1)

    def mk(i):
        d = str(tmp_path / f"corpus{i}")
        spark.createDataFrame(
            [("a", base, u) for u in range(1, 6)],
            "event_type string, ts timestamp, user_id bigint",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        return d

    other = mk(0)
    got = graph.banded_cooc_edges(spark, other)
    # new dir's data, not the old corpus' rows
    assert got.agg(F.max("v")).collect()[0][0] <= 5
    # alternating back is a HIT (old-dir entry survived the switch)
    assert graph.banded_cooc_edges(spark, sf_dir) is a
    # but distinct dirs are bounded: after >max_dirs others, the oldest go
    for i in range(1, 6):
        graph.banded_cooc_edges(spark, mk(i))
    dirs = {k[1] for k in tables._MEMOS["banded_edges"] if k[0] is spark}
    # bound is max_dirs TOTAL including the current dir (the loop keeps
    # at most max_dirs-1 = 3 others) — r12 ADVICE doc alignment
    assert len(dirs) <= 4
    assert other not in dirs, "oldest dir must be evicted at the bound"


def test_bpe_encode_hit_and_row_parity(spark, sf_dir):
    a = training._bpe_encoded(spark, sf_dir)
    b = training._bpe_encoded(spark, sf_dir)
    assert a is b
    # cold recompute (cache cleared WITH unpersist — a bare clear()
    # orphans the persisted relation, which keeps participating in
    # Spark's cached-plan substitution for the rest of the session)
    memo = tables._MEMOS["bpe_encoded"]
    for k in list(memo):
        memo.pop(k).unpersist()
    cold = training._bpe_encoded(spark, sf_dir)
    assert cold is not a
    assert sorted(map(tuple, cold.collect())) == sorted(
        map(tuple, a.collect())
    )


def test_shingle_cache_hit(spark, sf_dir):
    a = dedup._shingled(spark, sf_dir)
    assert dedup._shingled(spark, sf_dir) is a


def test_neardup_pairs_cache_hit_and_parity(spark, sf_dir):
    a = dedup._neardup_pairs(spark, sf_dir)
    assert dedup._neardup_pairs(spark, sf_dir) is a
    # the memoized pair set is exactly the registered query's output
    fresh = dedup.dedup_minhash_lsh(spark, sf_dir)
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, fresh.collect())
    )


def test_bands_cache_hit_and_bound(spark, sf_dir):
    bands_a, bound_a = dedup._bands_with_bound(spark, sf_dir)
    bands_b, bound_b = dedup._bands_with_bound(spark, sf_dir)
    assert bands_a is bands_b and bound_a == bound_b
    # the bound is a true upper bound on the verified candidate join
    n_cand = (
        dedup.dedup_minhash_lsh(spark, sf_dir).count()
    )
    assert bound_a >= n_cand


def test_same_dir_mutation_invalidates_caches(spark, tmp_path):
    """VERDICT r7 task 3: appending/overwriting files in the SAME corpus
    dir must invalidate the session memos — switch-only eviction read
    stale persisted data. Exercises the listing fingerprint in the key."""
    import shutil
    import time

    corpus = str(tmp_path / "mut_corpus")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "web", 35, "en")],
        "doc_id bigint, text string, source string, n_chars bigint,"
        " lang string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{corpus}/documents.parquet")
    first = dedup._shingled(spark, corpus)
    assert first.count() == 2  # base + mutated twin (_corpus union)
    # overwrite IN PLACE with a two-doc corpus; ensure mtime_ns moves even
    # on coarse filesystems
    time.sleep(0.05)
    shutil.rmtree(f"{corpus}/documents.parquet")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "web", 35, "en"),
            (2, "one two three four five six seven", "web", 33, "en"),
        ],
        "doc_id bigint, text string, source string, n_chars bigint,"
        " lang string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{corpus}/documents.parquet")
    second = dedup._shingled(spark, corpus)
    assert second is not first, "mutated dir must not hit the stale memo"
    assert second.count() == 4


def test_dir_fingerprint_oserror_never_aliases(monkeypatch, tmp_path):
    """ADVICE r8: an errored walk (file deleted mid-walk during an
    in-place rewrite) must return a UNIQUE sentinel, not the non-local
    constant () — otherwise an entry cached under () from a half-written
    dir is served again on a later errored call."""
    import os as _os

    from dig_aggregator_core_spark import tables

    d = str(tmp_path / "fp_corpus")
    _os.makedirs(d)
    open(f"{d}/a.parquet", "wb").write(b"x")

    ok = tables.dir_fingerprint(d)
    assert ok and ok != ()

    def boom(p):
        raise OSError(2, "No such file or directory", p)

    monkeypatch.setattr(_os, "stat", boom)
    e1 = tables.dir_fingerprint(d)
    e2 = tables.dir_fingerprint(d)
    monkeypatch.undo()
    assert e1 != ()  # never the non-local constant
    assert e1 != e2  # unique per call: memo lookups always miss
    assert tables.dir_fingerprint(d) == ok  # recovery after the race


def test_cc_full_labels_memo_shared_across_consumers(spark, sf_dir):
    """dedup_cc_delete and dedup_connected_components share ONE stored
    full-graph labeling (_full_cc_labels' "cc_full" memo). Regression:
    a duplicate module-level cache declaration once made the
    two functions collide on the same key with different column shapes
    ((u, component) vs (doc_id, component)) — running cc_delete FIRST
    then the registered CC query raised UNRESOLVED_USING_COLUMN in
    dedup_cluster_representative."""
    from dig_aggregator_core_spark.operators import dedup

    # cc_delete first: populates the memo with the (u, component) frame
    dedup.dedup_cc_delete(spark, sf_dir).collect()
    base = dedup._full_cc_labels(spark, sf_dir)
    assert base.columns == ["u", "component"]
    # the registered query must consume the SAME memo entry, renamed
    cc = dedup.dedup_connected_components(spark, sf_dir)
    assert cc.columns == ["doc_id", "component"]
    assert dedup._full_cc_labels(spark, sf_dir) is base
    # and the downstream consumer must resolve its USING join
    rep = dedup.dedup_cluster_representative(spark, sf_dir)
    assert rep.columns == [
        "component", "kept_doc_id", "kept_n_toks", "n_members"
    ]
    assert rep.count() > 0
