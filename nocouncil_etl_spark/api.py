"""User-facing engine facade — the surface a reference user programs against.

The reference user today runs scripts that scan JSONL, dedup by hash, filter
by keywords, chunk-summarize, embed, and query a vector collection. This
facade exposes those capabilities as one object over any DataFrame:

    from nocouncil_etl_spark.api import Engine

    eng = Engine()                          # or Engine(existing_spark)
    docs = eng.table("/data/sf0.1", "documents")

    eng.dedup_exact(docs, "text", "doc_id")
    eng.near_duplicates(docs, "doc_id", "text", threshold=0.6)
    eng.embed(docs, "text")
    eng.search(index, query_vec_df, k=10, strategy="lsh")
    eng.run("pricing_summary", "/data/sf0.1")   # anything in the catalog
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nocouncil_etl_spark import io as engine_io
from nocouncil_etl_spark.registry import load_all
from nocouncil_etl_spark.session import get_session, tune


class Engine:
    """Thin facade binding the operator library to one SparkSession."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = tune(spark) if spark is not None else get_session()

    # --- catalog ------------------------------------------------------------

    def table(self, sf_dir: str, name: str) -> DataFrame:
        return engine_io.load(self.spark, sf_dir, name)

    def queries(self) -> list[str]:
        return sorted(load_all())

    def run(self, name: str, sf_dir: str) -> DataFrame:
        return load_all()[name].fn(self.spark, sf_dir)

    def publish_bucketed(
        self,
        df: DataFrame,
        name: str,
        path: str,
        bucket_col: str,
        buckets: int = 32,
        partition_by: str | None = None,
    ) -> DataFrame:
        """Publish a curated table in a bucketed (+ optionally partitioned)
        layout and return the re-read handle. Bucketing by the primary key
        means every downstream join-heavy consumer — contamination check,
        train/val split, CDC merge, sequence packing — re-reads the corpus
        already hash-partitioned on the key: the join/groupBy shuffle
        disappears from their plans entirely (zero Exchange, asserted in
        tests/test_bucketing.py). ``partition_by`` (e.g. source) adds
        directory-level pruning for per-source consumers on top.

        At 100 TB this is the difference between every consumer paying a
        full-corpus shuffle and none of them paying it: the one sorted
        bucketed write amortizes across every downstream read."""
        w = df.write.mode("overwrite").bucketBy(buckets, bucket_col).sortBy(
            bucket_col
        )
        if partition_by:
            w = w.partitionBy(partition_by)
        w.option("path", path).saveAsTable(name)
        return self.spark.table(name)

    def compact(self, path: str, out_path: str, target_files: int) -> DataFrame:
        """Small-file compaction: rewrite a parquet directory into
        ``target_files`` files, content-identical. The table-maintenance
        op every long-running ingest needs — a stream or CDC merge writing
        small batches degrades scans (one task + one footer per tiny
        file); periodic compaction restores scan efficiency. Returns the
        re-read handle."""
        df = self.spark.read.parquet(path)
        df.repartition(target_files).write.mode("overwrite").parquet(out_path)
        return self.spark.read.parquet(out_path)

    def checksum(self, df: DataFrame, cols: list[str]) -> tuple[int, int]:
        """Order-independent content checksum of a frame over ``cols``:
        (row_count, bit_xor of keyed row hashes). Two frames with equal
        checksums over the same columns are row-identical with
        overwhelming probability — the O(1)-output comparison used after
        migrations/compactions/replications (fn_table_checksum's verb
        form). One scan, map-side-combined."""
        from pyspark.sql import functions as F

        key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
        row = (
            df.select(h.alias("h"))
            .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x"))
            .collect()[0]
        )
        return int(row["n"]), int(row["x"] or 0)

    def publish_versioned(self, df: DataFrame, root: str) -> int:
        """Atomic versioned publish: write the frame to a NEW immutable
        ``v=<n+1>`` directory under ``root``, then atomically swap a
        CURRENT manifest pointer to it (write-temp + os.replace — the same
        commit discipline the ANN index manifest uses). Readers via
        read_current never observe a half-written version: they either see
        the old pointer or the new one — the poor man's transaction commit
        that gives plain parquet snapshot-isolated publishes. Returns the
        new version number. Old versions stay readable (time travel /
        rollback = rewrite the pointer)."""
        import json
        import os

        os.makedirs(root, exist_ok=True)
        mf = os.path.join(root, "CURRENT.json")
        cur = 0
        if os.path.isfile(mf):
            try:
                with open(mf) as fh:
                    cur = int(json.load(fh)["version"])
            except (OSError, ValueError, KeyError):
                cur = 0
        new = cur + 1
        df.write.mode("overwrite").parquet(f"{root}/v={new}")
        tmp = mf + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": new}, fh)
        os.replace(tmp, mf)
        return new

    def read_current(self, root: str) -> DataFrame:
        """Read the version the CURRENT manifest points at."""
        import json
        import os

        with open(os.path.join(root, "CURRENT.json")) as fh:
            v = int(json.load(fh)["version"])
        return self.spark.read.parquet(f"{root}/v={v}")

    def sorted_write(
        self, df: DataFrame, path: str, sort_col: str, n_files: int = 8
    ) -> DataFrame:
        """Globally-sorted table write: range-partition (sampled split
        points) + sort within partitions, so file k's values all precede
        file k+1's — a total order across the table without any single
        node ever holding it. Point/range predicates on the sort column
        then prune to one or two files via parquet min/max stats
        (non-overlap asserted from real file stats in
        tests/test_layout5.py). The one-dimensional sibling of
        zorder_write."""
        (
            df.repartitionByRange(n_files, sort_col)
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .parquet(path)
        )
        return self.spark.read.parquet(path)

    def zorder_write(
        self,
        df: DataFrame,
        path: str,
        x_col: str,
        y_col: str,
        n_files: int = 8,
    ) -> DataFrame:
        """Z-order (Morton) clustered write: interleave the bits of two
        key columns and range-partition + sort the rows by the interleaved
        key, so every output file is locally bounded in BOTH dimensions —
        parquet min/max stats then prune scans on either predicate (the
        OPTIMIZE ZORDER layout; kernel oracle-checked as fn_morton_zorder,
        bounding-box shrinkage measured in tests/test_layout5.py)."""
        from pyspark.sql import functions as F

        masks = [(8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)]

        def spread(c):
            e = F.col(c).cast("long")
            for sh, m in masks:
                e = (e.bitwiseOR(F.shiftleft(e, sh))).bitwiseAND(F.lit(m))
            return e

        keyed = df.withColumn(
            "_z", spread(x_col).bitwiseOR(F.shiftleft(spread(y_col), 1))
        )
        (
            keyed.repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )
        return self.spark.read.parquet(path)

    # --- dedup --------------------------------------------------------------

    def dedup_exact(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        from nocouncil_etl_spark.operators.dedup import exact_dedup

        return exact_dedup(df, text_col, id_col)

    def near_duplicates(
        self,
        df: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.5,
        shingle_n: int = 3,
        n_bands: int = 2,
        rows_per_band: int = 2,
        n_salt: int | None = None,
    ) -> DataFrame:
        """MinHash-LSH near-dup pairs. Pass ``n_salt`` for boilerplate-heavy
        corpora where one shared template makes a pathological band bucket:
        the salted candidate self-join (operators/dedup.salted_band_pairs)
        is result-identical but bounds the per-task bucket groups at
        ~|bucket|/n_salt."""
        from nocouncil_etl_spark.operators.dedup import (
            lsh_near_duplicates,
            lsh_near_duplicates_salted,
        )

        if n_salt is not None:
            return lsh_near_duplicates_salted(
                df, id_col, text_col, shingle_n, n_bands, rows_per_band,
                threshold, n_salt=n_salt,
            )
        return lsh_near_duplicates(
            df, id_col, text_col, shingle_n, n_bands, rows_per_band, threshold
        )

    # --- vectors ------------------------------------------------------------

    def embed(
        self, df: DataFrame, text_col: str, backend: str | None = None
    ) -> DataFrame:
        """E1 embedding; backend = 'hash' (deterministic default) or
        'sentence_transformers' (MiniLM-384 production twin), resolved from
        session conf spark.nocouncil_etl_spark.embedBackend when not given.
        The Spark plan is identical across backends (operators/backends.py)."""
        from nocouncil_etl_spark.operators.backends import (
            EMBED_HASH,
            make_embed_udf,
            resolve_backend,
        )
        from nocouncil_etl_spark.operators.vector_index import add_embeddings

        if backend is None:
            backend = resolve_backend(self.spark, "embedBackend", EMBED_HASH)
        return add_embeddings(df, text_col, make_embed_udf(backend))

    def search(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 10,
        strategy: str = "blocked",
        **cols,
    ) -> DataFrame:
        """Top-k similarity with the strategy ladder: 'exact' (expression),
        'blocked' (Arrow matmul), 'lsh' (one signature table), 'lsh_multi'
        (OR-amplified, L tables — the high-recall ANN), 'ivf' (centroid
        probing; pass part_col=..., nprobe=...) — SURVEY §4.2-1's API-level
        strategy switch."""
        from nocouncil_etl_spark.operators import similarity as S

        fn = {
            "exact": S.knn_exact,
            "blocked": S.knn_exact_blocked,
            "lsh": S.knn_lsh,
            "lsh_multi": S.knn_lsh_multi,
            "ivf": S.knn_ivf_probe,
        }[strategy]
        return fn(queries, corpus, k, **cols)

    def build_index(
        self, corpus: DataFrame, id_col: str, vec_col: str, path: str,
        version: int = 0, meta_cols: tuple[str, ...] = (),
    ) -> tuple[DataFrame, DataFrame]:
        """K4 grown up: compute signatures/norms/coarse cells ONCE and publish
        the parquet index artifact (+ centroid sidecar) — the write-once HNSW
        build of vectorize.py:119-123, shippable to serving like
        sample_cron_job.sh's chroma_db tar. ``meta_cols`` ride along into the
        artifact for hybrid filtered search. Returns (index, centroids) read
        back from the published files."""
        from nocouncil_etl_spark.operators.ann_index import (
            index_vectors,
            publish_vector_index,
        )

        return publish_vector_index(
            index_vectors(corpus, id_col, vec_col, version, meta_cols), path
        )

    def serve_index(
        self, corpus: DataFrame, id_col: str, vec_col: str, path: str,
        meta_cols: tuple[str, ...] = (),
    ) -> tuple[DataFrame, DataFrame]:
        """Publish-if-absent: build+publish on first call, manifest-validated
        artifact reuse afterwards (operators/ann_index.serve_vector_index)."""
        from nocouncil_etl_spark.operators.ann_index import serve_vector_index

        return serve_vector_index(corpus, path, id_col, vec_col, meta_cols)

    def search_index(
        self,
        queries: DataFrame,
        path: str,
        k: int = 10,
        strategy: str = "lsh",
        nprobe: int = 2,
        where=None,
        **cols,
    ) -> DataFrame:
        """Serving-side top-k against a published index: reads the artifact,
        never the corpus; query-side signatures only. ``where`` (a Column or
        SQL string over index metadata columns) makes it a hybrid filtered
        search — the predicate is pushed into the index parquet scan."""
        from nocouncil_etl_spark.operators.ann_index import (
            knn_from_index,
            read_vector_index,
        )

        idx, cent = read_vector_index(self.spark, path)
        if where is not None:
            idx = idx.filter(where)
        return knn_from_index(
            queries, idx, cent, k, strategy=strategy, nprobe=nprobe, **cols
        )

    def build_kmeans_index(
        self, corpus: DataFrame, path: str, k: int = 64, iters: int = 2,
        id_col: str = "vec_id", vec_col: str = "v",
    ) -> None:
        """Trained-IVF build: fixed-k integer k-means coarse quantizer
        trained on the corpus, every vector's cell pinned into the
        published artifact (operators/kmeans_index.publish_kmeans_index —
        vec_knn_index_kmeans's kernel)."""
        from nocouncil_etl_spark.operators.kmeans_index import (
            publish_kmeans_index,
        )

        publish_kmeans_index(corpus, k, iters, path, id_col=id_col, vec_col=vec_col)

    def serve_kmeans_index(
        self, corpus: DataFrame, path: str, k: int = 64, iters: int = 2,
        id_col: str = "vec_id", vec_col: str = "v",
    ):
        """Publish-if-absent trained-IVF serving: manifest-validated reuse;
        kmeans_fit never runs on the warm path
        (vec_knn_index_kmeans_serve's kernel)."""
        from nocouncil_etl_spark.operators.kmeans_index import serve_kmeans_index

        return serve_kmeans_index(
            corpus, k, iters, path, id_col=id_col, vec_col=vec_col
        )

    def upsert_kmeans_index(
        self, incoming: DataFrame, path: str,
        id_col: str = "vec_id", vec_col: str = "v",
    ) -> None:
        """Incremental growth: assign ONLY the incoming batch against the
        stored (pinned) centroids and append — existing cells never move."""
        from nocouncil_etl_spark.operators.kmeans_index import (
            upsert_kmeans_index,
        )

        upsert_kmeans_index(incoming, path, id_col=id_col, vec_col=vec_col)

    def search_kmeans_index(
        self, queries: DataFrame, path: str, nprobe: int = 2, k: int = 5,
        id_col: str = "vec_id", vec_col: str = "v",
    ) -> DataFrame:
        """Top-k against the pinned trained-IVF artifact: query-side
        quantize + probe; the corpus is scanned only inside probed cells."""
        from nocouncil_etl_spark.operators.kmeans_index import (
            search_kmeans_index,
        )

        return search_kmeans_index(
            queries, path, nprobe, k, id_col=id_col, vec_col=vec_col
        )

    # --- curation (training-data ops) ---------------------------------------

    @staticmethod
    def _hash_bucket(id_col):
        from pyspark.sql import functions as F

        return (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long") % 100
        )

    def sample(self, df: DataFrame, id_col: str, pct: int) -> DataFrame:
        """Deterministic ~pct% sample by id-hash bucket — reproducible across
        runs and task retries (df.sample() is not)."""
        return df.filter(self._hash_bucket(id_col) < pct)

    def split(
        self, df: DataFrame, id_col: str, train_pct: int = 80, val_pct: int = 10
    ) -> DataFrame:
        """Add a deterministic 'split' column (train/val/test) — membership
        is a property of the row, stable under backfills and late data."""
        from pyspark.sql import functions as F

        b = self._hash_bucket(id_col)
        return df.withColumn(
            "split",
            F.when(b < train_pct, F.lit("train"))
            .when(b < train_pct + val_pct, F.lit("val"))
            .otherwise(F.lit("test")),
        )

    def pack(
        self, df: DataFrame, group_col: str, order_col: str, tokens_col: str,
        budget: int = 512,
    ) -> DataFrame:
        """Add a 'pack_id' column: greedy fixed-budget sequence packing via
        a keyed cumulative-sum window (shuffle-free across groups)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy(group_col).orderBy(order_col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = F.sum(tokens_col).over(w)
        return df.withColumn(
            "pack_id", F.floor((cum - F.col(tokens_col)) / budget).cast("bigint")
        )

    def cluster_duplicates(self, pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
        """Near-dup pairs → transitive clusters (connected components):
        returns (node, comp) where comp is the cluster's canonical id."""
        from nocouncil_etl_spark.operators.dedup import connected_components

        return connected_components(pairs, src=src, dst=dst)

    # --- LLM ops (E6/E7/E8) -------------------------------------------------

    def _llm(self, backend: str | None):
        from nocouncil_etl_spark.operators.backends import (
            LLM_STUB,
            llm_config,
            resolve_backend,
        )

        if backend is None:
            backend = resolve_backend(self.spark, "llmBackend", LLM_STUB)
        return backend, llm_config(self.spark)

    def summarize(
        self, df: DataFrame, backend: str | None = None
    ) -> DataFrame:
        """E6 LLM-map summarize over (doc_id, text); backend = 'stub'
        (deterministic extractive default) or 'ollama' (HTTP, llama3.2 —
        the reference's summarize.py:160-163 surface), resolved from session
        conf spark.nocouncil_etl_spark.llmBackend when not given. Same plan
        either way; failures land in the error column."""
        from nocouncil_etl_spark.operators.backends import make_summarize_map
        from nocouncil_etl_spark.operators.models import SUMMARIZE_SCHEMA

        backend, cfg = self._llm(backend)
        return df.select("doc_id", "text").mapInPandas(
            make_summarize_map(backend, cfg), schema=SUMMARIZE_SCHEMA
        )

    def extract_entities(
        self, df: DataFrame, backend: str | None = None
    ) -> DataFrame:
        """E7 entity extraction over (doc_id, text): regex stub or LLM with
        regex-validated output; same schema and quarantine contract."""
        from nocouncil_etl_spark.operators.backends import make_extract_map
        from nocouncil_etl_spark.operators.models import EXTRACT_SCHEMA

        backend, cfg = self._llm(backend)
        return df.select("doc_id", "text").mapInPandas(
            make_extract_map(backend, cfg), schema=EXTRACT_SCHEMA
        )

    def extract_html(
        self, df: DataFrame, backend: str | None = None
    ) -> DataFrame:
        """S7/E10 content extraction over (doc_id, html): 'fake' (stdlib
        tag-stripper, deterministic default) or 'cascade' (trafilatura →
        bs4 → stdlib, first-success-wins — the production twin of
        newscrawler.py:187-299), resolved from session conf
        spark.nocouncil_etl_spark.extractBackend when not given."""
        from nocouncil_etl_spark.operators.backends import (
            HTML_EXTRACT_FAKE,
            HTML_EXTRACT_SCHEMA,
            make_extract_html_map,
            resolve_backend,
        )

        if backend is None:
            backend = resolve_backend(self.spark, "extractBackend", HTML_EXTRACT_FAKE)
        return df.select("doc_id", "html").mapInPandas(
            make_extract_html_map(backend), schema=HTML_EXTRACT_SCHEMA
        )

    def tree_summarize(
        self,
        df: DataFrame,
        key: str,
        pos: str,
        value: str,
        fan_in: int = 4,
        backend: str | None = None,
    ) -> DataFrame:
        """E8 bounded-fan-in reduce; the combiner is JVM array_join (stub) or
        an LLM merge of partial summaries (ollama) — each merge prompt stays
        ≤ fan_in items, the fix for the reference's unbounded concat."""
        from nocouncil_etl_spark.operators.backends import make_reduce_combine
        from nocouncil_etl_spark.operators.treereduce import tree_reduce

        backend, cfg = self._llm(backend)
        return tree_reduce(
            df, key=key, pos=pos, value=value, fan_in=fan_in,
            combine=make_reduce_combine(backend, cfg),
        )

    # --- text ---------------------------------------------------------------

    def text_quality(self, df: DataFrame, text_col: str) -> DataFrame:
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.functions.text import quality_score

        ws = F.split(text_col, " ")
        return df.withColumn("quality", F.round(quality_score(text_col, ws), 4))

    # --- embedding-space dedup / graphs -------------------------------------

    def semantic_dedup(
        self,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        centroids: DataFrame | None = None,
        cent_mod: int = 50,
        threshold: float = 0.99,
        k: int | None = None,
        iters: int = 4,
        artifact_path: str | None = None,
    ) -> DataFrame:
        """SemDeDup near-duplicate pairs: nearest-centroid clustering, then
        cosine ≥ threshold inside clusters only (operators/semantic.py).

        Pass ``k`` to TRAIN a fixed-k integer k-means (operators/kmeans.py)
        on the corpus — the scale-correct mode: assignment is O(n·k) with a
        constant-size closure at any corpus size. Add ``artifact_path`` to
        publish-once/serve-many the trained centroids
        (operators/centroid_artifact — dedup_semantic_serve's kernel:
        warm calls load the pinned matrix and never retrain). Passing
        ``centroids`` uses that frame as-is; otherwise the legacy
        1/cent_mod id sample is used (whose k grows with the corpus — fine
        for small frames, guarded by MAX_CENTROIDS beyond that)."""
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.operators.semantic import (
            cluster_pair_scan,
            semantic_near_duplicates,
        )

        v = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        if k is not None:
            from nocouncil_etl_spark.operators.kmeans import (
                assign_l2,
                kmeans_fit,
                quantize_vectors,
            )

            vq = quantize_vectors(v, "v", "xq").select("vec_id", "xq").persist()
            try:
                if artifact_path is not None:
                    from nocouncil_etl_spark.operators.centroid_artifact import (
                        serve_centroids,
                    )

                    cent_ids, cm = serve_centroids(vq, k, iters, artifact_path)
                else:
                    cent_ids, cm = kmeans_fit(vq, k, iters)
                best = assign_l2(vq, cent_ids, cm).withColumnRenamed(
                    "cid", "cent_id"
                )
                clustered = v.join(best, "vec_id").select("cent_id", "vec_id", "v")
                return cluster_pair_scan(clustered, threshold)
            finally:
                vq.unpersist()
        cent = (
            centroids.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
            if centroids is not None
            else v.filter(F.col("vec_id") % cent_mod == 0)
        )
        return semantic_near_duplicates(v, cent, threshold=threshold)

    def kmeans(
        self,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        k: int = 16,
        iters: int = 4,
    ) -> DataFrame:
        """Fixed-k integer Lloyd's k-means (operators/kmeans.py) →
        (id_col, cluster). Deterministic across runs and partitionings;
        k is guarded by MAX_CENTROIDS. Assumes vector components in
        (−1, 1) (embedding-normalized), matching the quantization grid."""
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.operators.kmeans import (
            assign_l2,
            kmeans_fit,
            quantize_vectors,
        )

        v = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        vq = quantize_vectors(v, "v", "xq").select("vec_id", "xq").persist()
        try:
            cent_ids, cm = kmeans_fit(vq, k, iters)
            return assign_l2(vq, cent_ids, cm).select(
                F.col("vec_id").alias(id_col), F.col("cid").alias("cluster")
            )
        finally:
            vq.unpersist()

    def transitions(
        self,
        df: DataFrame,
        key_col: str,
        ts_col: str,
        state_col: str,
        order_col: str | None = None,
    ) -> DataFrame:
        """First-order Markov transition matrix over any keyed event
        stream → (from_state, to_state, n, p); p row-normalizes per
        from_state (the session_transitions plan, generalized)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        order = [ts_col] + ([order_col] if order_col else [])
        w = Window.partitionBy(key_col).orderBy(*order)
        t = df.select(
            F.col(state_col).alias("to_state"),
            F.lag(state_col).over(w).alias("from_state"),
        ).filter(F.col("from_state").isNotNull())
        m = t.groupBy("from_state", "to_state").agg(F.count(F.lit(1)).alias("n"))
        row_total = F.sum("n").over(Window.partitionBy("from_state"))
        return m.select(
            "from_state",
            "to_state",
            "n",
            F.round(F.col("n").cast("double") / row_total.cast("double"), 6)
            .alias("p"),
        )

    def ema(
        self,
        df: DataFrame,
        key_col: str,
        ts_col: str,
        value_col: str,
        lags: int = 16,
        order_col: str | None = None,
    ) -> DataFrame:
        """Fixed-point EMA (α = 1/2) truncated at ``lags`` observations —
        the deterministic form of the recursive smoother (the
        ts_ema_fixedpoint kernel, generalized). Rows without a full
        history are skipped."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        order = [ts_col] + ([order_col] if order_col else [])
        w = Window.partitionBy(key_col).orderBy(*order)
        v4 = F.round(F.col(value_col) * 10000, 0).cast("long")
        base = df.withColumn("_v4", v4)
        s = None
        for j in range(lags):
            term = F.lag("_v4", j).over(w) * F.lit(1 << (lags - 1 - j))
            s = term if s is None else s + term
        den = float((1 << lags) * 10000)
        return (
            base.withColumn("ema", F.round(s.cast("double") / F.lit(den), 6))
            .withColumn("_full", F.lag("_v4", lags - 1).over(w).isNotNull())
            .filter("_full")
            .drop("_v4", "_full")
        )

    def pagerank(
        self,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        iters: int = 8,
    ) -> DataFrame:
        """Fixed-point PageRank over an edge list (operators/graph.py):
        ranks in 1e-9 integer units, deterministic across engines and runs.
        Node set = every id appearing as src or dst.

        The returned frame is PERSISTED (the kernel materializes the final
        ranks); the caller owns the cache — call ``.unpersist()``
        when done with the ranks, or one node-set-sized cache entry stays
        pinned for the session."""
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.operators.graph import pagerank_fixed_point

        nodes = (
            edges.select(F.col(src).alias("node"))
            .unionByName(edges.select(F.col(dst).alias("node")))
            .distinct()
        )
        n = nodes.count()
        deg = edges.groupBy(src).agg(F.count("*").alias("d"))
        e = edges.join(deg, src).select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), "d"
        )
        return pagerank_fixed_point(nodes, e, n, iters)

    def hits(
        self,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        iters: int = 4,
    ) -> DataFrame:
        """HITS hubs & authorities over an edge list (operators/graph.py):
        (node, a, h) in max-normalized 1e-6 integer units after ``iters``
        synchronous iterations — deterministic across engines and runs.
        Node set = every id appearing as src or dst.

        The returned frame is PERSISTED (the iteration materializes each
        half-step to keep the plan linear — see hits_fixed_point); the
        caller owns the cache — call ``.unpersist()`` when done."""
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.operators.graph import hits_fixed_point

        nodes = (
            edges.select(F.col(src).alias("node"))
            .unionByName(edges.select(F.col(dst).alias("node")))
            .distinct()
        )
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        return hits_fixed_point(nodes, e, iters)

    def covisitation(
        self,
        df: DataFrame,
        basket_col: str,
        item_col: str,
        k: int = 3,
    ) -> DataFrame:
        """Top-k co-visited items per item ("bought X also bought Y") from
        any (basket, item) event frame — squared-cosine integer scores,
        basket-bounded joins (operators/recsys.covisitation_topk, the
        kernel behind rec_item_covisitation)."""
        from nocouncil_etl_spark.operators.recsys import covisitation_topk

        return covisitation_topk(df, basket_col, item_col, k)

    def isotonic_calibrate(
        self,
        df: DataFrame,
        prob_col: str,
        label_col: str,
        n_bins: int = 20,
    ) -> DataFrame:
        """Isotonic calibration curve of ``label_col`` (0/1) against
        ``prob_col`` (∈[0,1]) over ``n_bins`` equal-width bins: returns
        (bin, n, pos, obs_1e9, iso_1e9) with iso the monotone fit in exact
        1e-9 units (operators/calibration.isotonic_fit — the minimax PAVA
        kernel behind ml_isotonic_calibration). Cut model-score thresholds
        on iso, not on raw scores."""
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.operators.calibration import isotonic_fit

        binned = df.select(
            F.least(F.lit(n_bins - 1), F.floor(F.col(prob_col) * n_bins))
            .cast("long")
            .alias("bin"),
            F.col(label_col).cast("long").alias("y"),
        )
        bins = binned.groupBy("bin").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
        return isotonic_fit(bins)

    def rouge(
        self,
        df: DataFrame,
        id_col: str,
        ref_col: str,
        cand_col: str,
    ) -> DataFrame:
        """ROUGE-1/2 P/R/F1 (exact integer millionths) of a candidate text
        column against a reference per row — summarization/generation eval
        over e.g. the LLM seam's outputs (operators/texteval.rouge_scores,
        the kernel behind eval_rouge_ngram)."""
        from nocouncil_etl_spark.operators.texteval import rouge_scores

        return rouge_scores(df, id_col, ref_col, cand_col)

    # --- timeseries / behavioral -------------------------------------------

    def funnel(
        self,
        df: DataFrame,
        key_col: str,
        ts_col: str,
        steps: list,
    ) -> DataFrame:
        """Staged funnel over arbitrary (name, predicate-Column) steps: a
        key survives step k only with an event matching step k's predicate
        STRICTLY AFTER its first qualifying step-(k-1) event. Returns one
        row per step: (stage, stage_no, n_keys). Generalizes the
        funnel_conversion plan."""
        from pyspark.sql import functions as F

        counts = []
        anchor = None  # (DataFrame[key, t], ) of survivors so far
        for no, (name, pred) in enumerate(steps, start=1):
            stage_events = df.filter(pred)
            if anchor is None:
                surv = stage_events.groupBy(key_col).agg(F.min(ts_col).alias("_t"))
            else:
                surv = (
                    stage_events.join(anchor, key_col)
                    .filter(F.col(ts_col) > F.col("_t"))
                    .groupBy(key_col)
                    .agg(F.min(ts_col).alias("_t"))
                )
            anchor = surv
            counts.append(
                surv.agg(F.count("*").alias("n_keys")).select(
                    F.lit(name).alias("stage"),
                    F.lit(no).alias("stage_no"),
                    "n_keys",
                )
            )
        out = counts[0]
        for c in counts[1:]:
            out = out.unionByName(c)
        return out

    def gapfill(
        self,
        df: DataFrame,
        key_col: str,
        ts_col: str,
        value_col: str,
        bucket: str = "hour",
    ) -> DataFrame:
        """Dense per-key calendar at ``bucket`` granularity over each key's
        own observation span, with fixed-point linear interpolation for
        missing buckets. Returns (key, bucket_start, filled_v, is_gap).
        Same kernel as the oracle-checked ts_gapfill_interpolate plan
        (operators/timeseries.gapfill_interpolate) — one implementation, so
        the parity-critical integer blend cannot drift."""
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.operators.timeseries import gapfill_interpolate

        filled = gapfill_interpolate(df, key_col, ts_col, value_col, bucket)
        return filled.select(
            key_col,
            F.col("_b").alias("bucket_start"),
            "filled_v",
            "is_gap",
        )

    # --- retrieval / evaluation / stats -------------------------------------

    def bm25(
        self,
        df: DataFrame,
        id_col: str,
        text_col: str,
        terms: tuple[str, ...],
        k: int = 20,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Okapi BM25 top-k for ``terms`` over any document frame — the
        text_bm25_search kernel generalized (DECIMAL-quantized per-term
        parts so combine order cannot flip a ranking; test_api pins
        row-identity against the oracle-checked catalog twin)."""
        from pyspark.sql import functions as F

        tok = df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.expr(
                    f"filter(split(lower({text_col}), '[^a-z0-9]+'), t -> t != '')"
                )
            ).alias("term"),
        )
        dl = tok.groupBy("_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
        meta = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_len"),
        )
        tf = (
            tok.filter(F.col("term").isin(*terms))
            .groupBy("_id", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
        j = tf.join(F.broadcast(dfreq), "term").join(dl, "_id").crossJoin(
            F.broadcast(meta)
        )
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        norm = F.col("tf") + k1 * (
            1.0
            - b
            + b * F.col("dl") * F.col("n_docs") / F.col("total_len").cast("double")
        )
        part = F.round(idf * (F.col("tf") * (k1 + 1.0)) / norm, 6).cast(
            "decimal(18,6)"
        )
        out = (
            j.select("_id", part.alias("part"))
            .groupBy("_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
                F.sum("part").alias("_dec"),
            )
        )
        return (
            out.orderBy(F.desc("_dec"), "_id")
            .limit(k)
            .select(
                F.col("_id").alias(id_col),
                "n_hit_terms",
                F.col("_dec").cast("double").alias("bm25"),
            )
        )

    def auc(self, df: DataFrame, score_col: str, label_col: str) -> DataFrame:
        """Tie-corrected ROC AUC (Mann-Whitney) for any (score, 0/1 label)
        frame — integer U statistic over the per-distinct-score histogram,
        one row out (eval_roc_auc's kernel generalized)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        hist = df.groupBy(F.col(score_col).alias("_s")).agg(
            F.sum(label_col).cast("long").alias("pos_s"),
            F.sum(F.lit(1) - F.col(label_col)).cast("long").alias("neg_s"),
        )
        w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
        cum = hist.withColumn(
            "neg_below", F.coalesce(F.sum("neg_s").over(w), F.lit(0))
        )
        u2 = F.sum(F.col("pos_s") * (2 * F.col("neg_below") + F.col("neg_s")))
        return cum.agg(
            F.sum("pos_s").cast("long").alias("n_pos"),
            F.sum("neg_s").cast("long").alias("n_neg"),
            u2.cast("long").alias("u2"),
            F.round(
                u2.cast("double") / (2.0 * F.sum("pos_s") * F.sum("neg_s")), 6
            ).alias("auc"),
        )

    def bootstrap_ci(
        self, df: DataFrame, id_col: str, value_col: str, replicas: int = 32
    ) -> DataFrame:
        """Deterministic Poisson-bootstrap CI for the mean of ``value_col``
        (cents-exact; hash-seeded weights keyed by ``id_col`` — the
        agg_bootstrap_ci kernel generalized). Returns one row with the
        full-sample mean and the 2nd/(B−1)th order-statistic interval."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.plans.stats2 import HASH_SPACE, POIS_CDF, _hv

        reps = df.select(
            F.col(id_col).alias("_id"),
            F.round(F.col(value_col) * 100).cast("long").alias("_v"),
            F.explode(F.array(*[F.lit(x) for x in range(replicas)])).alias("_b"),
        )
        u = (
            _hv(
                F.concat_ws(
                    "#", F.col("_id").cast("string"), F.col("_b").cast("string")
                )
            )
            / F.lit(HASH_SPACE)
        )
        wcol = F.when(u < POIS_CDF[0], 0)
        for i in range(1, len(POIS_CDF)):
            wcol = wcol.when(u < POIS_CDF[i], i)
        wcol = wcol.otherwise(len(POIS_CDF))
        means = (
            reps.select("_b", "_v", wcol.alias("_w"))
            .groupBy("_b")
            .agg(
                F.sum(F.col("_w") * F.col("_v")).cast("long").alias("num"),
                F.sum("_w").cast("long").alias("den"),
            )
        )
        mean_b = F.col("num") / F.col("den").cast("double") / 100.0
        ranked = means.select(
            mean_b.alias("mean_b"),
            F.row_number().over(Window.orderBy(mean_b, "_b")).alias("rn"),
        )
        base = df.agg(
            (
                F.sum(F.round(F.col(value_col) * 100).cast("long"))
                / F.count(F.lit(1)).cast("double")
                / 100.0
            ).alias("mean_full")
        )
        from pyspark.sql import functions as F2

        return ranked.crossJoin(F2.broadcast(base)).agg(
            F2.lit(replicas).cast("long").alias("n_replicas"),
            F2.round(F2.first("mean_full"), 6).alias("mean_full"),
            F2.round(F2.max(F2.when(F2.col("rn") == 2, F2.col("mean_b"))), 6).alias(
                "ci_lo"
            ),
            F2.round(
                F2.max(F2.when(F2.col("rn") == replicas - 1, F2.col("mean_b"))), 6
            ).alias("ci_hi"),
        )

    def association_rules(
        self,
        df: DataFrame,
        basket_col: str,
        item_col: str,
        min_support: int = 3,
        top: int = 50,
    ) -> DataFrame:
        """Co-occurrence association rules (support/confidence/lift) over
        (basket, item) rows — market_basket_lift generalized. Quadratic
        only inside a basket; top rules by lift under a total order."""
        from pyspark.sql import functions as F

        basket = df.select(
            F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
        ).distinct()
        n_baskets = basket.select("_bk").distinct().count()
        item = basket.groupBy("_it").agg(F.count("*").cast("long").alias("cnt"))
        a, b = basket.alias("a"), basket.alias("b")
        pair = (
            a.join(
                b,
                (F.col("a._bk") == F.col("b._bk"))
                & (F.col("a._it") < F.col("b._it")),
            )
            .groupBy(
                F.col("a._it").alias("item_a"), F.col("b._it").alias("item_b")
            )
            .agg(F.count("*").cast("long").alias("pair_cnt"))
            .filter(F.col("pair_cnt") >= min_support)
        )
        ia = item.select(F.col("_it").alias("item_a"), F.col("cnt").alias("cnt_a"))
        ib = item.select(F.col("_it").alias("item_b"), F.col("cnt").alias("cnt_b"))
        out = (
            pair.join(F.broadcast(ia), "item_a")
            .join(F.broadcast(ib), "item_b")
            .select(
                "item_a",
                "item_b",
                "pair_cnt",
                "cnt_a",
                "cnt_b",
                F.round(
                    F.col("pair_cnt").cast("double") / F.lit(n_baskets), 6
                ).alias("support"),
                F.round(F.col("pair_cnt").cast("double") / F.col("cnt_a"), 6).alias(
                    "confidence"
                ),
                F.round(
                    F.col("pair_cnt").cast("double")
                    * F.lit(n_baskets)
                    / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                    6,
                ).alias("lift"),
            )
        )
        return out.orderBy(
            F.desc("lift"), F.desc("pair_cnt"), "item_a", "item_b"
        ).limit(top)

    def radius_join(
        self,
        df: DataFrame,
        id_col: str,
        x_col: str,
        y_col: str,
        radius: int,
    ) -> DataFrame:
        """All id pairs within ``radius`` (integer coordinates, integer
        squared euclidean) via the 3×3 grid-cell equi-join —
        geo_radius_join generalized to any point frame. Exact: recall-
        lossless by construction (test proves equality with brute force)."""
        from pyspark.sql import functions as F

        pts = df.select(
            F.col(id_col).alias("_id"),
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        )
        cell = lambda c: F.expr(f"{c} div {radius}")  # noqa: E731
        home = pts.select(
            F.col("_id").alias("id_b"),
            F.col("_x").alias("xb"),
            F.col("_y").alias("yb"),
            cell("_x").alias("cx"),
            cell("_y").alias("cy"),
        )
        offs = F.array(*[F.lit(d) for d in (-1, 0, 1)])
        probe = (
            pts.withColumn("dx", F.explode(offs))
            .withColumn("dy", F.explode(offs))
            .select(
                F.col("_id").alias("id_a"),
                F.col("_x").alias("xa"),
                F.col("_y").alias("ya"),
                (cell("_x") + F.col("dx")).alias("cx"),
                (cell("_y") + F.col("dy")).alias("cy"),
            )
        )
        d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
            F.col("ya") - F.col("yb")
        ) * (F.col("ya") - F.col("yb"))
        return (
            probe.join(home, ["cx", "cy"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", d2.alias("d2"))
            .filter(F.col("d2") <= radius * radius)
            .distinct()
            .select("id_a", "id_b", F.col("d2").cast("long").alias("d2"))
        )

    # --- fusion / diversification / release gates ---------------------------

    def rrf(
        self,
        ranked: dict[str, DataFrame],
        id_col: str,
        k0: int = 60,
        top: int = 20,
    ) -> DataFrame:
        """Reciprocal Rank Fusion of named rank lists (each with columns
        (id_col, rank)) — the operators/fusion.rrf_fuse kernel, the same
        implementation retrieval_rrf_fusion runs under its oracle."""
        from nocouncil_etl_spark.operators.fusion import rrf_fuse

        return rrf_fuse(ranked, id_col, k0=k0, top=top)

    def mmr(
        self,
        vectors: DataFrame,
        query: DataFrame,
        id_col: str,
        vec_col: str,
        cand_n: int = 20,
        k: int = 5,
        lam: float = 0.7,
    ) -> DataFrame:
        """Maximal-Marginal-Relevance diversified top-k: rank ``vectors``
        by cosine to the 1-row ``query`` frame (column ``qv``), keep the
        top ``cand_n``, then greedily select ``k`` via
        operators/fusion.mmr_greedy — the same kernel search_mmr_rerank
        runs under its oracle (test_api3 pins row-identity)."""
        from pyspark.sql import functions as F

        from nocouncil_etl_spark.functions.vectors import cosine
        from nocouncil_etl_spark.operators.fusion import mmr_greedy

        cand = (
            vectors.crossJoin(F.broadcast(query))
            .select(
                F.col(id_col),
                F.col(vec_col).alias("_v"),
                F.round(cosine(vec_col, "qv"), 6).alias("rel"),
            )
            .orderBy(F.desc("rel"), id_col)
            .limit(cand_n)
        )
        a = cand.select(F.col(id_col).alias("ia"), F.col("_v").alias("va"))
        b = cand.select(F.col(id_col).alias("ib"), F.col("_v").alias("vb"))
        sims = (
            a.crossJoin(b)
            .filter(F.col("ia") != F.col("ib"))
            .select("ia", "ib", F.round(cosine("va", "vb"), 6).alias("s"))
        )
        return mmr_greedy(
            cand.select(id_col, "rel"), sims, k, lam, id_col=id_col
        )

    def k_anonymize(
        self, df: DataFrame, qi_cols: list[str], k: int = 10
    ) -> DataFrame:
        """The k-anonymity PUBLISH gate (privacy_k_anonymity is the audit):
        returns only rows whose quasi-identifier group has ≥ k members —
        a group-size semi-join, never a row-level collect."""
        from pyspark.sql import functions as F

        big = (
            df.groupBy(*qi_cols)
            .agg(F.count(F.lit(1)).alias("_sz"))
            .filter(F.col("_sz") >= k)
            .drop("_sz")
        )
        return df.join(F.broadcast(big), qi_cols, "left_semi")

    def quantile_normalize(
        self,
        df: DataFrame,
        id_col: str,
        value_col: str,
        group_col: str,
        n_grid: int | None = None,
    ) -> DataFrame:
        """Quantile-normalize ``value_col`` per ``group_col`` onto the
        pooled distribution — the operators/quantiles kernel, the same
        implementation curation_quantile_normalize runs under its oracle
        (test_api3 pins row-identity). Pass ``n_grid`` for the sort-free
        grid form (quantile_normalize_grid — Fenwick prefix counts, no
        single-partition window; the 100 TB path,
        curation_quantile_normalize_grid's kernel)."""
        from nocouncil_etl_spark.operators.quantiles import (
            quantile_normalize_frame,
            quantile_normalize_grid,
        )

        if n_grid is not None:
            return quantile_normalize_grid(
                df, id_col, value_col, group_col, n_grid=n_grid
            )
        return quantile_normalize_frame(df, id_col, value_col, group_col)

    def pit_join(
        self,
        obs: DataFrame,
        features: DataFrame,
        obs_key: str,
        entity_col: str,
        event_time_col: str,
        feat_entity_col: str,
        valid_col: str,
        load_col: str,
        as_of,
        value_cols: list[str],
    ) -> DataFrame:
        """Bitemporal point-in-time join (valid AND loaded by as-of) — the
        operators/pit kernel, the same implementation
        join_feature_store_pit runs under its oracle."""
        from nocouncil_etl_spark.operators.pit import point_in_time_join

        return point_in_time_join(
            obs,
            features,
            obs_key=obs_key,
            entity_col=entity_col,
            event_time_col=event_time_col,
            feat_entity_col=feat_entity_col,
            valid_col=valid_col,
            load_col=load_col,
            as_of=as_of,
            value_cols=value_cols,
        )

    def cuped(
        self, df: DataFrame, unit_col: str, pre_col: str, post_col: str
    ) -> DataFrame:
        """CUPED variance-reduction readout for any (unit, pre, post)
        frame of integer metrics: θ, var(post), adjusted variance, and the
        reduction ratio ρ² — exact BIGINT cross-moments, one shuffle
        (eval_cuped_adjustment's kernel generalized; test_api3 pins the
        catalog construction)."""
        from pyspark.sql import functions as F

        mom = df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(pre_col).cast("long").alias("sx"),
            F.sum(post_col).cast("long").alias("sy"),
            F.sum(F.col(pre_col) * F.col(pre_col)).cast("long").alias("sxx"),
            F.sum(F.col(post_col) * F.col(post_col))
            .cast("long")
            .alias("syy"),
            F.sum(F.col(pre_col) * F.col(post_col))
            .cast("long")
            .alias("sxy"),
        )
        n = F.col("n")
        cxx = (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / n
        )
        cyy = (
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy") / n
        )
        cxy = (
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy") / n
        )
        s = mom.select(
            n.alias("n_units"),
            (cxy / cxx).alias("theta"),
            (cyy / (n - 1)).alias("var_y"),
            (cxx / (n - 1)).alias("var_x"),
            (cxy / (n - 1)).alias("cov_xy"),
        )
        var_adj = (
            F.col("var_y")
            - F.col("cov_xy") * F.col("cov_xy") / F.col("var_x")
        )
        return s.select(
            "n_units",
            F.round("theta", 6).alias("theta"),
            F.round(F.col("var_y"), 6).alias("var_post"),
            F.round(var_adj, 6).alias("var_adjusted"),
            F.round(1.0 - var_adj / F.col("var_y"), 6).alias(
                "variance_reduction"
            ),
        )

    # --- pipelines ----------------------------------------------------------

    def council_index(self, sf_dir: str) -> DataFrame:
        from nocouncil_etl_spark.pipelines.council import council_pipeline

        return council_pipeline(self.spark, sf_dir)

    def articles_index(self, sf_dir: str, seen: DataFrame | None = None) -> DataFrame:
        from nocouncil_etl_spark.pipelines.articles import articles_pipeline

        return articles_pipeline(self.spark, sf_dir, seen=seen)
