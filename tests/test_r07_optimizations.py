"""Round-7 optimization pins: the fused extraction, broadcast rescore,
and Arrow-native embedding/signature paths must be ROW-IDENTICAL to the
two-stage / shuffled / pandas forms they replaced, and the fused plan
must actually drop a Python evaluation node."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F


def _rows(df, order_cols):
    return df.orderBy(*order_cols).collect()


def _final_plan_nodes(df) -> list[str]:
    """Node names of the executed plan, the AQE-final plan when adaptive
    (call after the frame has run)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return re.findall(
        r"(?m)^[\s+\-:|]*(?:\*\(\d+\) )?(\w+)", plan.toString()
    )


@pytest.fixture(scope="module")
def events(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/events.parquet")


@pytest.fixture(scope="module")
def tiny_groups(spark, tmp_path_factory):
    """Transcripts with the per-conversation shape (~3.5 turns per
    conv_id, a few thousand conversations) and enough rows for the
    'auto' probe to trust its sample."""
    from tgdigest_spark.datagen import write_transcripts

    return spark.read.parquet(
        write_transcripts(str(tmp_path_factory.mktemp("tiny")), sf=0.003)
    )


class TestFusedExtraction:
    def test_grouped_quantiles_matches_two_stage(self, spark, events):
        from tgdigest_spark.agg import sketch_by_key, with_quantiles
        from tgdigest_spark.api import grouped_quantiles
        from tgdigest_spark.sketches.tdigest import TDigest

        for method in ("combine", "salted"):
            two_stage = with_quantiles(
                sketch_by_key(
                    events, ["event_type"], "value",
                    lambda: TDigest(200), method=method,
                ),
                lambda: TDigest(200),
                [0.5, 0.95],
            )
            fused = grouped_quantiles(
                events, ["event_type"], "value", [0.5, 0.95], method=method
            )
            assert _rows(fused, ["event_type"]) == _rows(
                two_stage, ["event_type"]
            ), method

    def test_clustered_matches_two_stage(self, spark, events):
        from tgdigest_spark.agg import sketch_by_key, with_quantiles
        from tgdigest_spark.api import grouped_quantiles
        from tgdigest_spark.sketches.kll import KLL

        co = events.repartition(4, "event_type")
        two_stage = with_quantiles(
            sketch_by_key(
                co, ["event_type"], "value", lambda: KLL(200),
                method="clustered",
            ),
            lambda: KLL(200),
            [0.5],
        )
        from tgdigest_spark.api import grouped_quantiles_kll

        fused = grouped_quantiles_kll(
            co, ["event_type"], "value", [0.5], method="clustered"
        )
        assert _rows(fused, ["event_type"]) == _rows(two_stage, ["event_type"])

    def test_fused_plan_has_one_fewer_python_eval(self, spark, events):
        from tgdigest_spark.agg import sketch_by_key, with_quantiles
        from tgdigest_spark.api import grouped_quantiles
        from tgdigest_spark.sketches.tdigest import TDigest

        fused = grouped_quantiles(events, ["event_type"], "value", [0.5])
        two_stage = with_quantiles(
            sketch_by_key(events, ["event_type"], "value", lambda: TDigest(200)),
            lambda: TDigest(200),
            [0.5],
        )
        n_fused = fused._jdf.queryExecution().executedPlan().toString().count(
            "MapInPandas"
        )
        n_two = two_stage._jdf.queryExecution().executedPlan().toString().count(
            "MapInPandas"
        )
        assert n_fused == n_two - 1 == 2

    def test_multirow_explode_fused_matches_standalone(self, spark, events):
        from pyspark.sql.types import LongType, StringType, StructField

        from tgdigest_spark.agg import sketch_by_key
        from tgdigest_spark.api import _blob_multirow, grouped_cm_counts
        from tgdigest_spark.sketches.countmin import CountMin

        probes = ["1", "2", "3"]
        fused = grouped_cm_counts(
            events, ["event_type"], "user_id", probes
        )
        probe_arr = np.array(probes, dtype=object)
        blobs = sketch_by_key(
            events,
            ["event_type"],
            F.col("user_id").cast("string"),
            lambda: CountMin.from_error(0.001, 0.01),
        )
        standalone = _blob_multirow(
            blobs,
            CountMin.deserialize,
            [
                StructField("item", StringType(), False),
                StructField("est_count", LongType(), False),
            ],
            lambda cm: {
                "item": probe_arr,
                "est_count": cm.estimate(probe_arr).astype(np.int64),
            },
        )
        order = ["event_type", "item"]
        assert _rows(fused, order) == _rows(standalone, order)


class TestBroadcastRescore:
    def test_lsh_pairs_identical_both_join_strategies(self, spark, sf01_dir):
        from tgdigest_spark.operators.dedup_text import lsh_candidate_pairs

        docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
        a = lsh_candidate_pairs(docs, num_perm=64, broadcast_pairs=True)
        rows_a = _rows(a, ["id_a", "id_b"])
        a.release_cache()
        b = lsh_candidate_pairs(docs, num_perm=64, broadcast_pairs=False)
        rows_b = _rows(b, ["id_a", "id_b"])
        b.release_cache()
        assert rows_a == rows_b
        assert len(rows_a) > 0

    def test_broadcast_plan_has_no_signature_exchange(self, spark, sf01_dir):
        from tgdigest_spark.operators.dedup_text import lsh_candidate_pairs

        docs = spark.read.parquet(f"{sf01_dir}/documents.parquet")
        out = lsh_candidate_pairs(docs, num_perm=64, broadcast_pairs=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        out.release_cache()


class TestArrowEmbeddingPaths:
    def test_cosine_topk_matches_numpy_oracle(self, spark, sf01_dir):
        from tgdigest_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
        pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        qidx = [0, 1, 2]
        qn = mn[qidx]
        sims = mn @ qn.T  # (n, nq)
        got = cosine_topk(
            emb,
            m[qidx],
            pdf["vec_id"].to_numpy()[qidx],
            k=5,
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        ids = pdf["vec_id"].to_numpy()
        for j, qi in enumerate(qidx):
            qid = int(ids[qi])
            want = sorted(
                ((float(sims[i, j]), int(ids[i])) for i in range(len(ids))
                 if int(ids[i]) != qid),
                key=lambda t: (-t[0], t[1]),
            )[:5]
            rows = sorted(by_q[qid], key=lambda r: r["rank"])
            for rank, (w_cos, w_id) in enumerate(want, start=1):
                assert rows[rank - 1]["vec_id"] == w_id
                assert rows[rank - 1]["cosine"] == pytest.approx(
                    w_cos, abs=1e-12
                )

    def test_list_matrix_ragged_fallback(self):
        import pyarrow as pa

        from tgdigest_spark.operators.similarity import _list_matrix

        ragged = pa.array([[1.0, 2.0], [3.0], [4.0, 5.0]],
                          type=pa.list_(pa.float32()))
        with pytest.raises(Exception):
            # ragged rows cannot form a matrix — object path raises the
            # same numpy error the pandas form did
            _list_matrix(ragged)

    def test_segments_pairs_matches_per_bucket_reference(self):
        from tgdigest_spark.operators.dedup_text import _segments_pairs

        rng = np.random.default_rng(7)
        for _ in range(200):
            n_seg = int(rng.integers(0, 25))
            lists = [
                rng.integers(0, 15, size=int(rng.integers(0, 10))).tolist()
                for _ in range(n_seg)
            ]
            flat = np.array(
                [x for l in lists for x in l], dtype=np.int64
            )
            offsets = np.concatenate(
                ([0], np.cumsum([len(l) for l in lists]))
            ).astype(np.int64)
            ga, gb = _segments_pairs(flat, offsets)
            want = []
            for ids in lists:
                arr = np.unique(np.asarray(ids, dtype=np.int64))
                if arr.size < 2:
                    continue
                iu = np.triu_indices(arr.size, k=1)
                want += list(zip(arr[iu[0]].tolist(), arr[iu[1]].tolist()))
            assert sorted(zip(ga.tolist(), gb.tolist())) == sorted(want)

    def test_minhash_signatures_roundtrip_empty_docs(self, spark):
        import pandas as pd

        from tgdigest_spark.operators.dedup_text import minhash_signatures

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["alpha beta gamma delta", "", "alpha beta gamma delta", "x"],
            }
        )
        df = spark.createDataFrame(pdf)
        rows = {
            r["doc_id"]: list(r["sig"])
            for r in minhash_signatures(df, num_perm=32).collect()
        }
        assert rows[2] == []              # empty doc → empty signature
        assert rows[1] == rows[3]          # identical docs → identical sigs
        assert len(rows[1]) == 32
        assert len(rows[4]) == 32          # short doc still signed


class TestRepartitionTopology:
    """Round-7 'repartition' topology + 'auto' dispatch: one raw-row
    shuffle + a single clustered build must yield exactly one row per
    group with rank-accurate estimates (the estimates legitimately
    differ from combine's — different merge tree — so the pin is the
    group set plus the t-digest rank guarantee, not bit-equality)."""

    def test_repartition_group_set_and_rank_accuracy(self, spark, events):
        from tgdigest_spark.api import grouped_quantiles

        rep = grouped_quantiles(
            events, ["event_type"], "value", [0.5], method="repartition"
        ).collect()
        com = grouped_quantiles(
            events, ["event_type"], "value", [0.5], method="combine"
        ).collect()
        assert sorted(r["event_type"] for r in rep) == sorted(
            r["event_type"] for r in com
        )
        exact = {
            r["event_type"]: r["p"]
            for r in events.groupBy("event_type")
            .agg(F.expr("percentile(value, 0.5)").alias("p"))
            .collect()
        }
        n_per = {
            r["event_type"]: r["n"]
            for r in events.groupBy("event_type").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }
        for r in rep:
            # rank tolerance: |rank(est) - 0.5*n| <= 0.05*n via the
            # value-domain proxy of comparing against the exact median
            # of a unimodal synthetic column — loose but falsifiable
            assert abs(r["p50"] - exact[r["event_type"]]) <= max(
                0.1 * abs(exact[r["event_type"]]), 1e-6
            ) or n_per[r["event_type"]] < 100

    def test_repartition_handles_null_keys_and_values(self, spark):
        from tgdigest_spark.api import grouped_quantiles

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), (None, 3.0), (None, None), ("b", None)],
            "k string, v double",
        )
        out = {
            r["k"]: r["p50"]
            for r in grouped_quantiles(
                df, ["k"], "v", [0.5], method="repartition"
            ).collect()
        }
        ref = {
            r["k"]: r["p50"]
            for r in grouped_quantiles(
                df, ["k"], "v", [0.5], method="combine"
            ).collect()
        }
        assert set(out) == set(ref)  # {'a', 'b', None}
        assert out["b"] is None and ref["b"] is None

    def test_auto_dispatch_rules(self, spark, sf01_dir):
        from tgdigest_spark.agg import _auto_method

        ev = spark.read.parquet(f"{sf01_dir}/events.parquet")
        # derived input (aggregate upstream): never probed -> combine
        assert _auto_method(ev.groupBy("event_type").count(), ["event_type"]) == "combine"
        # few-groups key: combine
        assert _auto_method(ev, ["event_type"]) == "combine"
        # computed key absent from the files: combine
        assert (
            _auto_method(
                ev.select(F.pmod(F.xxhash64("value"), F.lit(10)).alias("k")),
                ["k"],
            )
            == "combine"
        )

    def test_auto_runs_end_to_end(self, spark, events):
        from tgdigest_spark.api import grouped_quantiles

        n_auto = grouped_quantiles(
            events, ["event_type"], "value", [0.5], method="auto"
        ).count()
        n_com = grouped_quantiles(
            events, ["event_type"], "value", [0.5], method="combine"
        ).count()
        assert n_auto == n_com

    @pytest.mark.parametrize("aqe", ["true", "false"])
    def test_latency_plan_reuses_window_shuffle(self, spark, tiny_groups, aqe):
        """The lag window's conv_id exchange is the co-location the
        single pass needs: one Exchange and one Python node in total,
        rows bit-identical to the two-pass combine topology."""
        from tgdigest_spark.agg import sketch_quantiles_by_key
        from tgdigest_spark.api import (
            grouped_latency_quantiles, interturn_latency_seconds,
        )
        from tgdigest_spark.sketches.tdigest import TDigest

        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        try:
            got = grouped_latency_quantiles(tiny_groups, [0.5, 0.95])
            got_rows = sorted(got.collect(), key=lambda r: r["conv_id"])
            ref = sketch_quantiles_by_key(
                interturn_latency_seconds(tiny_groups),
                ["conv_id"],
                "latency_s",
                lambda: TDigest(200),
                [0.5, 0.95],
                method="combine",
            )
            ref_rows = sorted(ref.collect(), key=lambda r: r["conv_id"])
            got_nodes = _final_plan_nodes(got)
            ref_nodes = _final_plan_nodes(ref)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        assert got_nodes.count("Exchange") == 1
        assert got_nodes.count("MapInPandas") == 1
        assert ref_nodes.count("Exchange") == 2
        assert ref_nodes.count("MapInPandas") == 2
        assert len(got_rows) > 1000
        assert got_rows == ref_rows

    def test_default_picks_single_pass_for_tiny_groups_only(
        self, spark, tiny_groups
    ):
        from tgdigest_spark.agg import _auto_method
        from tgdigest_spark.api import grouped_quantiles

        assert _auto_method(tiny_groups, ["conv_id"]) == "repartition"
        assert _auto_method(tiny_groups, ["role"]) == "combine"
        length = F.length("text").cast("double")
        by_conv = grouped_quantiles(tiny_groups, ["conv_id"], length, [0.5])
        by_role = grouped_quantiles(tiny_groups, ["role"], length, [0.5])
        by_conv.collect()
        by_role.collect()
        assert _final_plan_nodes(by_conv).count("MapInPandas") == 1
        assert _final_plan_nodes(by_role).count("MapInPandas") == 2

    def test_default_matches_combine_per_sketch(self, spark, tiny_groups):
        """The single pass builds each group from exactly its values, so
        KLL (groups of <= k values) and HLL blobs are the same bytes as
        combine's merged partials. Round-robin input splits most
        conversations across map partitions, so combine really merges.
        Tiny t-digest groups keep unit centroids through combine's
        merge, so its estimates match too: the single pass inherits
        combine's rank accuracy exactly."""
        from tgdigest_spark.agg import _auto_method, sketch_by_key
        from tgdigest_spark.api import grouped_quantiles, grouped_quantiles_kll
        from tgdigest_spark.sketches.hll import HLL

        split = tiny_groups.repartition(7)
        assert _auto_method(split, ["conv_id"]) == "repartition"
        length = F.length("text").cast("double")
        qs = [0.5, 0.95]
        for api_fn in (grouped_quantiles, grouped_quantiles_kll):
            got = api_fn(split, ["conv_id"], length, qs)
            ref = api_fn(split, ["conv_id"], length, qs, method="combine")
            assert _rows(got, ["conv_id"]) == _rows(ref, ["conv_id"]), api_fn

        tool = F.coalesce(F.col("tool"), F.col("role"))
        hll = sketch_by_key(split, ["conv_id"], tool, lambda: HLL(12))
        hll_ref = sketch_by_key(
            split, ["conv_id"], tool, lambda: HLL(12), method="combine"
        )
        assert _rows(hll, ["conv_id"]) == _rows(hll_ref, ["conv_id"])

    def test_non_numeric_shuffle_partitions_conf(
        self, spark, tiny_groups, monkeypatch
    ):
        """A conf value such as 'auto' must not crash the single pass
        (now the default for tiny groups) nor the partition estimate."""
        from pyspark.sql.conf import RuntimeConfig

        from tgdigest_spark.agg import _estimated_partitions
        from tgdigest_spark.api import grouped_quantiles

        real_get = RuntimeConfig.get

        def get(self, key, *args, **kw):
            if key == "spark.sql.shuffle.partitions":
                return "auto"
            return real_get(self, key, *args, **kw)

        monkeypatch.setattr(RuntimeConfig, "get", get)
        length = F.length("text").cast("double")
        n_groups = tiny_groups.select("conv_id").distinct().count()
        assert (
            grouped_quantiles(tiny_groups, ["conv_id"], length, [0.5]).count()
            == n_groups
        )
        assert (
            grouped_quantiles(
                tiny_groups, ["conv_id"], length, [0.5], method="repartition"
            ).count()
            == n_groups
        )
        assert _estimated_partitions(tiny_groups) >= 200

    def test_single_pass_width_is_one_wave_capped_by_conf(
        self, spark, tiny_groups
    ):
        """The raw-row shuffle runs one task per core on a small scan,
        never more than the shuffle-partition conf, and leaves inputs
        it cannot size to Spark."""
        from tgdigest_spark.agg import _single_pass_partitions
        from tgdigest_spark.api import grouped_quantiles

        par = spark.sparkContext.defaultParallelism
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "200")
            assert _single_pass_partitions(tiny_groups, ["conv_id"]) == par
            length = F.length("text").cast("double")
            out = grouped_quantiles(tiny_groups, ["conv_id"], length, [0.5])
            out.collect()
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert re.search(
                rf"hashpartitioning\(conv_id#\d+, {par}\), REPARTITION_BY_NUM",
                plan,
            )
            spark.conf.set("spark.sql.shuffle.partitions", "2")
            assert _single_pass_partitions(tiny_groups, ["conv_id"]) == 2
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        derived = tiny_groups.groupBy("conv_id").count()
        assert _single_pass_partitions(derived, ["conv_id"]) is None

    def test_probe_resolves_keys_by_expr_id(self, spark, tmp_path):
        """A key produced by an Alias is not the file column of the same
        name: the probe must not sample the file's own ``k``."""
        import pandas as pd

        from tgdigest_spark.agg import _auto_method, _plan_facts

        n = 8192
        path = str(tmp_path / "alias.parquet")
        pd.DataFrame(
            {
                "k": [f"c{i // 4}" for i in range(n)],  # tiny groups
                "other": [f"r{i % 3}" for i in range(n)],  # 3 groups
                "v": np.arange(n, dtype=np.float64),
            }
        ).to_parquet(path, index=False)
        df = spark.read.parquet(path)
        assert _auto_method(df, ["k"]) == "repartition"
        assert _auto_method(df.select("k", "v"), ["k"]) == "repartition"
        aliased = df.select(F.col("other").alias("k"), "v")
        assert _plan_facts(aliased, ["k"]).files is None
        assert _auto_method(aliased, ["k"]) == "combine"


class TestHeavyHittersTierSkip:
    def test_direct_collect_matches_tier_path(self, spark, events):
        """Narrow scans (≤ fanout partials) skip the final reduce tier;
        the result must be bit-identical to the tiered path (CM merge
        is order-independent, candidates are a superset)."""
        from tgdigest_spark.api import heavy_hitters

        ev = events.repartition(6)  # pin >1 partials so fanout=1 tiers
        direct = heavy_hitters(ev, "event_type", k=5).collect()
        # fanout=1 can never satisfy n_est <= fanout on a multi-partial
        # input, forcing the reduce-tier branch over the SAME partials
        tiered = heavy_hitters(ev, "event_type", k=5, fanout=1).collect()
        assert [(r["item"], r["est_count"]) for r in direct] == [
            (r["item"], r["est_count"]) for r in tiered
        ]
