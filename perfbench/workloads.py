"""The benchmark's workloads and the parts they are built from.

A part drives one area of the engine through its public functions:
``generate`` builds the seeded inputs (not part of set-up time),
``preload`` is the program-side set-up, ``op`` is the timed call,
``check`` compares its output with the generator's truth, and
``traced_op`` runs the same work layer by layer under spans, forcing each
layer's output at its boundary so its time lands in its own span.

A workload (:class:`Workload`) is one or more parts; each of its ops runs
one op of every part, in order, from the one client thread.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.tracing import Tracer

NOW_SQL = gen.NOW.strftime("%Y-%m-%d %H:%M:%S")


def _collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Part:
    name = ""
    # per-layer name under which the traced run reports this part's Spark
    # jobs per untraced op
    jobs_metric: str | None = None

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work = work_dir
        self.seed = seed
        self.spark = None

    def sizes(self) -> dict:
        raise NotImplementedError

    def generate(self) -> None:
        raise NotImplementedError

    def preload(self, spark) -> None:
        self.spark = spark

    def prepare(self, i: int) -> None:
        """Per-op input landing, outside the timed region."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> list[str]:
        raise NotImplementedError

    def finish(self, i: int) -> None:
        """Per-op clean-up, outside the timed region."""

    def rows(self, i: int) -> int:
        """Input rows op ``i`` processes (for ``rows_per_s``)."""
        raise NotImplementedError

    def traced_op(self, i: int, tr: Tracer) -> tuple[object, dict]:
        raise NotImplementedError


# ---------------------------------------------------------------------------


class EtlIncremental(Part):
    """Small feed batches upserted into a big date-partitioned table."""

    name = "etl_incremental"
    N_INCIDENTS = 100_000
    BATCH_ROWS = 2_000

    def sizes(self) -> dict:
        return {
            "preloaded_incidents": self.N_INCIDENTS,
            "event_date_partitions": gen.ETL_DAYS,
            "batch_deviations": self.BATCH_ROWS,
            "pages_per_batch": self.BATCH_ROWS // gen.ETL_PAGE_ROWS,
        }

    def generate(self) -> None:
        self.inp = gen.EtlInputs(self.seed, self.N_INCIDENTS, self.BATCH_ROWS)
        self.initial = os.path.join(self.work, "incidents-initial.parquet")
        pq.write_table(self.inp.initial_table(), self.initial)
        self.sink = os.path.join(self.work, "incidents")

    def _run_etl(self, feed_dir: str, pages: int) -> dict:
        from trafik_etl_modular_spark.pipelines.etl_job import run_etl

        return run_etl(
            self.spark, feed_dir, self.sink, self.dim,
            max_pages=pages, expect_min_rows=1, expect_max_rows=10 * self.N_INCIDENTS,
        )

    def preload(self, spark) -> None:
        """The sink's initial load: the generated population, county names
        joined from the engine's dimension, written with the sink's own
        partitioned layout."""
        from trafik_etl_modular_spark.pipelines.etl_job import INCIDENTS_DDL
        from trafik_etl_modular_spark.pipelines.ingest import make_county_dim
        from trafik_etl_modular_spark.pipelines.sink import conform_schema, write_incidents

        super().preload(spark)
        self.dim = make_county_dim(spark)
        flat = spark.read.parquet(self.initial).join(F.broadcast(self.dim), "county_no", "left")
        write_incidents(conform_schema(flat, INCIDENTS_DDL), self.sink)

    def _version(self, i: int) -> int:
        return i + 1

    def prepare(self, i: int) -> None:
        v = self._version(i)
        self.batch = self.inp.batch_ids(v)
        self.feed = os.path.join(self.work, f"feed-{v}")
        self.pages = self.inp.write_feed(self.feed, self.batch, v)

    def op(self, i: int) -> dict:
        return self._run_etl(self.feed, self.pages)

    def check(self, i: int, report: dict) -> list[str]:
        from trafik_etl_modular_spark.pipelines.sink import read_incidents

        tag = self.inp.version_tag(self._version(i))
        versioned = {
            r[0]
            for r in read_incidents(self.spark, self.sink)
            .filter(F.col("message").endswith(" " + tag))
            .select("incident_id")
            .collect()
        }
        return checks.check_etl(
            report, versioned, self.N_INCIDENTS, self.inp.n_ongoing, self.inp.n_upcoming,
            {self.inp.incident_id(int(k)) for k in self.batch},
        )

    def finish(self, i: int) -> None:
        shutil.rmtree(self.feed, ignore_errors=True)

    def rows(self, i: int) -> int:
        return self.BATCH_ROWS

    def _sink_files(self) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(self.sink):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
        return out

    def traced_op(self, i: int, tr: Tracer) -> tuple[dict, dict]:
        """run_etl's steps, one span per layer, in run_etl's order.

        The feed read and the normalisation are forced with checkpoints so
        each lands in its own span.  The merge consumes the lazy
        feed → normalise chain, as in run_etl, so its span includes the
        re-reads of the feed that its plan triggers."""
        from trafik_etl_modular_spark.pipelines.etl_job import INCIDENTS_DDL, feed_to_flat
        from trafik_etl_modular_spark.pipelines.ingest import normalize_incidents
        from trafik_etl_modular_spark.pipelines.sink import (
            conform_schema, merge_into_incidents, read_incidents,
        )
        from trafik_etl_modular_spark.sources.xml_feed import register_xml_feed

        spark = self.spark

        def feed():
            register_xml_feed(spark)
            return (
                spark.read.format("xml_feed").option("path", self.feed)
                .option("maxPages", str(self.pages)).load()
            )

        with tr.span("sources.xml_feed", i) as scan:
            raw = feed().localCheckpoint(eager=True)
        raw_rows = raw.count()
        with tr.span("pipelines.ingest", i) as norm:
            inc = normalize_incidents(feed_to_flat(raw), self.dim, NOW_SQL).localCheckpoint(eager=True)
        kept = inc.count()
        before = self._sink_files()
        with tr.span("pipelines.sink", i) as merge:
            lazy = normalize_incidents(feed_to_flat(feed()), self.dim, NOW_SQL)
            merge_into_incidents(spark, self.sink, conform_schema(lazy, INCIDENTS_DDL))
        after = self._sink_files()
        with tr.span("pipelines.etl_job", i) as rep:
            kpi = (
                read_incidents(spark, self.sink)
                .agg(
                    F.count("*").alias("rows"),
                    F.sum(F.when(F.col("status") == "PÅGÅR", 1).otherwise(0)).alias("pagar"),
                    F.sum(F.when(F.col("status") == "KOMMANDE", 1).otherwise(0)).alias("kommande"),
                )
                .collect()[0]
            )
        new = {p: b for p, b in after.items() if p not in before}
        parts = {os.path.dirname(p) for p in after}
        report = {"rows": kpi["rows"], "pagar": kpi["pagar"], "kommande": kpi["kommande"], "batch_rows": kept}
        layers = {
            "sources.xml_feed.scan_ms": scan.ms,
            "sources.xml_feed.tasks": scan.tasks,
            "pipelines.ingest.normalize_ms": norm.ms,
            "pipelines.ingest.rows_kept_ratio": kept / raw_rows if raw_rows else 0.0,
            "pipelines.sink.merge_ms": merge.ms,
            "pipelines.sink.partitions_rewritten": len({os.path.dirname(p) for p in new}),
            "pipelines.sink.bytes_written_per_row": sum(new.values()) / max(kept, 1),
            "pipelines.sink.files_per_partition": len(after) / max(len(parts), 1),
            "pipelines.etl_job.report_ms": rep.ms,
        }
        return report, layers


# ---------------------------------------------------------------------------


class DashboardInteractive(Part):
    """One dashboard interaction per op over an events fact table."""

    name = "dashboard_interactive"
    N_EVENTS = 300_000
    jobs_metric = "pipelines.dashboard.jobs_per_interaction"

    def sizes(self) -> dict:
        return {
            "events_rows": self.N_EVENTS,
            "events_files": gen.DASH_FILES,
            "nation_rows": 25,
            "scan_days": list(gen.DASH_WINDOWS),
        }

    def generate(self) -> None:
        self.sf = os.path.join(self.work, "tables")
        events = gen.events_table(self.seed, self.N_EVENTS)
        gen.write_dashboard_dir(self.sf, events)
        self.truth = {d: gen.dashboard_truth(events, d) for d in gen.DASH_WINDOWS}

    @staticmethod
    def _window(i: int) -> int:
        """Scan days of op ``i``: the windows in turn, so every run times
        the same mix whatever its seed."""
        return gen.DASH_WINDOWS[i % len(gen.DASH_WINDOWS)]

    def op(self, i: int) -> dict:
        from trafik_etl_modular_spark.pipelines.dashboard import dashboard_session

        s = dashboard_session(self.spark, self.sf, scan_days=self._window(i))
        out = {k: _collect(df) for k, df in s.items() if k != "__base__"}
        s["__base__"].unpersist()
        return out

    def check(self, i: int, widgets: dict) -> list[str]:
        return checks.check_dashboard(widgets, self.truth[self._window(i)])

    def rows(self, i: int) -> int:
        return self.truth[self._window(i)]["scanned"]

    WIDGETS = ("kpis", "county_bar", "daily_trend", "type_dist", "map_viewport", "table")

    def traced_op(self, i: int, tr: Tracer) -> tuple[dict, dict]:
        from trafik_etl_modular_spark.pipelines.dashboard import dashboard_session
        from trafik_etl_modular_spark.pipelines.incidents import build_incidents

        days = self._window(i)
        now = F.lit(NOW_SQL).cast("timestamp")
        with tr.span("pipelines.incidents", i) as build:
            (
                build_incidents(self.spark, self.sf)
                .filter(F.col("start_time_utc") > now - F.expr(f"INTERVAL {days} DAYS"))
                .write.format("noop").mode("overwrite").save()
            )
        with tr.span("pipelines.dashboard", i) as cache:
            s = dashboard_session(self.spark, self.sf, scan_days=days)
            base_rows = s["__base__"].count()
        out, layers = {}, {}
        for w in self.WIDGETS:
            with tr.span(f"pipelines.dashboard.{w}", i) as ws:
                out[w] = _collect(s[w])
            layers[f"pipelines.dashboard.widget_ms.{w}"] = ws.ms
        s["__base__"].unpersist()
        layers.update(
            {
                "pipelines.incidents.build_ms": build.ms,
                "pipelines.dashboard.base_cache_ms": cache.ms,
                "pipelines.dashboard.base_rows": base_rows,
            }
        )
        return out, layers


# ---------------------------------------------------------------------------


class CorpusDedup(Part):
    """Near-duplicate removal over document shards and their embeddings."""

    name = "corpus_dedup"
    N_DOCS = 2_000
    N_VECS = 500
    N_SHARDS = 3
    JACCARD = 0.6
    COSINE = 0.9
    CLUSTERS = 16

    def sizes(self) -> dict:
        return {
            "docs_per_shard": self.N_DOCS,
            "words_per_doc": gen.CORPUS_DOC_WORDS,
            "vocabulary": gen.CORPUS_VOCAB,
            "vectors_per_shard": self.N_VECS,
            "vector_dim": gen.CORPUS_DIM,
            "planted_dup_share": gen.CORPUS_DUP_SHARE,
            "shards": self.N_SHARDS,
            "minhash_threshold": self.JACCARD,
            "semantic_threshold": self.COSINE,
            "semantic_clusters": self.CLUSTERS,
        }

    def generate(self) -> None:
        self.docs, self.vecs, self.planted = [], [], []
        for s in range(self.N_SHARDS):
            docs, doc_groups = gen.docs_shard(self.seed, s, self.N_DOCS)
            vecs, vec_groups = gen.vectors_shard(self.seed, s, self.N_VECS)
            self.docs.append(os.path.join(self.work, f"docs-{s}.parquet"))
            self.vecs.append(os.path.join(self.work, f"vecs-{s}.parquet"))
            pq.write_table(docs, self.docs[-1])
            pq.write_table(vecs, self.vecs[-1])
            self.planted.append((doc_groups, vec_groups))

    def op(self, i: int) -> tuple[list, list]:
        from trafik_etl_modular_spark.llmdata.dedup import connected_components, minhash_near_dups
        from trafik_etl_modular_spark.llmdata.similarity import semantic_dedup

        s = i % self.N_SHARDS
        docs = self.spark.read.parquet(self.docs[s])
        labels = _collect(connected_components(minhash_near_dups(docs, threshold=self.JACCARD)))
        vecs = self.spark.read.parquet(self.vecs[s])
        groups = _collect(
            semantic_dedup(vecs, threshold=self.COSINE, n_clusters=self.CLUSTERS)
            .filter(F.col("group_size") > 1)
            .select("vec_id", "group_id")
        )
        return labels, groups

    def check(self, i: int, result: tuple[list, list]) -> list[str]:
        labels, groups = result
        doc_truth, vec_truth = self.planted[i % self.N_SHARDS]
        return checks.check_clusters(
            checks.clusters_from_labels(labels), doc_truth, "documents"
        ) + checks.check_clusters(checks.clusters_from_labels(groups), vec_truth, "vectors")

    def rows(self, i: int) -> int:
        return self.N_DOCS + self.N_VECS

    def traced_op(self, i: int, tr: Tracer) -> tuple[tuple[list, list], dict]:
        """minhash_near_dups and semantic_dedup split at their public
        stages: minhash_frames → lsh_candidate_pairs → exact-Jaccard verify
        (as minhash_near_dups_from does it) → connected_components, and
        ivf_index → near_dup_pairs_by_bucket → semantic_dedup over that
        assignment."""
        from trafik_etl_modular_spark.llmdata.dedup import (
            connected_components, jaccard, lsh_candidate_pairs, minhash_frames,
        )
        from trafik_etl_modular_spark.llmdata.similarity import (
            ivf_index, near_dup_pairs_by_bucket, semantic_dedup,
        )

        s = i % self.N_SHARDS
        docs = self.spark.read.parquet(self.docs[s])
        with tr.span("llmdata.dedup.minhash_frames", i) as sign:
            sh, signed = minhash_frames(docs)
            signed.count()
        with tr.span("llmdata.dedup.lsh_candidate_pairs", i) as cand:
            cands = lsh_candidate_pairs(signed, "doc_id", "minhash", 16, 4).localCheckpoint(eager=True)
        n_cand = cands.count()
        with tr.span("llmdata.dedup.verify", i) as ver:
            a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
            b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
            pairs = (
                cands.join(a, "id_a").join(b, "id_b")
                .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
                .filter(F.col("jaccard") >= self.JACCARD)
                .select("id_a", "id_b", "jaccard")
                .localCheckpoint(eager=True)
            )
        n_ver = pairs.count()
        with tr.span("llmdata.dedup.connected_components", i) as comp:
            labels = _collect(connected_components(pairs))

        vecs = self.spark.read.parquet(self.vecs[s])
        with tr.span("llmdata.similarity.ivf_index", i) as clus:
            assigned, _ = ivf_index(vecs, n_centroids=self.CLUSTERS)
            assigned = assigned.localCheckpoint(eager=True)
        sizes = [r[0] for r in assigned.groupBy("ivf_bucket").count().select("count").collect()]
        with tr.span("llmdata.similarity.near_dup_pairs_by_bucket", i) as pair:
            n_pairs = near_dup_pairs_by_bucket(
                assigned, threshold=self.COSINE, bucket_col="ivf_bucket", vec_col="__vec"
            ).localCheckpoint(eager=True).count()
        with tr.span("llmdata.similarity.semantic_dedup", i):
            groups = _collect(
                semantic_dedup(vecs, threshold=self.COSINE, n_clusters=self.CLUSTERS, assigned=assigned)
                .filter(F.col("group_size") > 1)
                .select("vec_id", "group_id")
            )
        in_bucket = sum(n * (n - 1) // 2 for n in sizes)
        layers = {
            "llmdata.dedup.shingle_sign_ms": sign.ms,
            "llmdata.dedup.candidate_ms": cand.ms,
            "llmdata.dedup.candidate_pairs": n_cand,
            "llmdata.dedup.verify_ms": ver.ms,
            "llmdata.dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
            "llmdata.dedup.components_ms": comp.ms,
            "llmdata.similarity.cluster_ms": clus.ms,
            "llmdata.similarity.pair_ms": pair.ms,
            "llmdata.similarity.pair_yield": n_pairs / in_bucket if in_bucket else 0.0,
        }
        return (labels, groups), layers


class Workload:
    """Runs one op of each part per op, in order, and merges their records."""

    def __init__(self, name: str, parts: list[Part], warm_ops: int) -> None:
        self.name = name
        self.parts = parts
        # fixed, so every run on every commit starts timing at the same op index
        self.warm_ops = warm_ops

    def sizes(self) -> dict:
        return {p.name: p.sizes() for p in self.parts}

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def preload(self, spark) -> None:
        for p in self.parts:
            p.preload(spark)

    def prepare(self, i: int) -> None:
        for p in self.parts:
            p.prepare(i)

    def op(self, i: int) -> list:
        return [p.op(i) for p in self.parts]

    def plain_op(self, i: int, tr: Tracer) -> list:
        """``op`` with each part under its own span, for per-part job counts."""
        out = []
        for p in self.parts:
            with tr.span(p.name, i):
                out.append(p.op(i))
        return out

    def check(self, i: int, results: list) -> list[str]:
        return [f"{p.name}: {msg}" for p, r in zip(self.parts, results) for msg in p.check(i, r)]

    def finish(self, i: int) -> None:
        for p in self.parts:
            p.finish(i)

    def rows(self, i: int) -> int:
        return sum(p.rows(i) for p in self.parts)

    def traced_op(self, i: int, tr: Tracer) -> tuple[list, dict]:
        results, layers = [], {}
        for p in self.parts:
            result, found = p.traced_op(i, tr)
            results.append(result)
            layers.update(found)
        return results, layers


# incident_app: the reference application's cycle — a feed batch lands,
# then a user interacts with the dashboard.  corpus_dedup: the north star.
# The ETL and dashboard parts share one workload because every run pays a
# session start and a cold first op (tens of seconds on a 4-core machine),
# and keeping a full comparison (about 22 runs per workload) under an hour
# allows two workloads at those costs, not three.
WORKLOADS = {
    "incident_app": lambda work, seed: Workload(
        "incident_app", [EtlIncremental(work, seed), DashboardInteractive(work, seed)], warm_ops=1
    ),
    # corpus ops are short: two more warm-up ops move the timed ops past
    # the steepest part of the JIT curve
    "corpus_dedup": lambda work, seed: Workload("corpus_dedup", [CorpusDedup(work, seed)], warm_ops=3),
}
