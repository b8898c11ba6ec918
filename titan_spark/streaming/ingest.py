"""Streaming ingest near-dup dedup against a persistent signature
store — the incremental form of the batch MinHash+LSH pipeline
(pipeline/dedup.py), for corpora that arrive as a stream.

Per micro-batch (foreachBatch):

1. band incoming docs' minhash signatures (same deterministic hashes
   as the batch pipeline — a doc gets the same bands in either mode),
   materialized once in one eager cut that also observes the set of
   band-hash buckets the batch touches;
2. docs sharing ANY band with the store are near-dup suspects (the
   store is bucketed parquet keyed on the band hash; the probe reads
   only the touched buckets). With no store on disk yet, there is no
   probe at all;
3. within-batch collisions among the remaining docs resolve greedily —
   the lower doc id of each candidate pair survives (documented
   divergence from the batch pipeline's full transitive clustering: a
   stream can't see forward). History hits and within-batch losers
   form ONE dropped-id set, materialized eagerly;
4. the band rows minus the dropped ids append to the store WITH the
   batch id, and the returned survivors are the batch minus the
   dropped ids — a lazy plan that never reads the minhash or the store
   again, so a later compaction cannot pull files out from under it.
   History reads take only STRICTLY EARLIER batches, so a retried
   batch (foreachBatch is at-least-once) reproduces its first
   attempt's survivors — the sink output is idempotent, not just the
   store.

State is the store itself — bounded by unique-document volume, not
stream length; no executor state store grows with the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from titan_spark.compute.checkpointing import cut_lineage
from titan_spark.functions.hashing import resolve_hash_fn
from titan_spark.pipeline.dedup import minhash_column

_STORE_SCHEMA = "band int, band_hash long, doc_id long, batch_id long"
# the persistent store is hive-partitioned on pmod(band_hash, N): a
# micro-batch's probe reads ONLY the bucket directories its own band
# hashes land in (partition-pruned scan), so probe IO is bounded by
# the matching buckets instead of the whole store — the ReadMarker
# bounded-read-interval analog (diskstorage/log/ReadMarker.java)
_N_BUCKETS = 64


def _bucket_of(band_hash):
    return F.pmod(band_hash, F.lit(_N_BUCKETS)).cast("int")


class IncrementalDedup:
    """foreachBatch processor: near-dup-filtered ingest with a
    persistent banded-signature store."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        bands: int = 8,
        num_hashes: int = 32,
        hash_fn: str = "xxhash64",
        compact_every: int = 8,
    ):
        self.spark = spark
        self.store_dir = store_dir
        self.text_col = text_col
        self.id_col = id_col
        self.bands = bands
        self.num_hashes = num_hashes
        self.hash_fn = hash_fn
        # small-file compaction cadence (0 disables): every Nth batch
        # rewrites the store to one file per bucket after its append
        self.compact_every = compact_every
        # once bucket= dirs have been seen the layout never reverts
        # (appends and compaction both write bucketed) — cache the
        # positive answer so steady-state probes skip the listdir
        self._known_bucketed = False
        # (signature, exploded bands) expressions, built on first use
        self._band_cols = None

    def warm_up(self) -> None:
        """One-time bootstrap (call at construction/stream start, off
        the per-batch latency path): run the full ``process_batch``
        plan twice — once with no store (no probe) and once against the
        bucketed store the first pass created — on a two-doc synthetic
        batch in a throwaway directory. This compiles both plan shapes'
        whole-stage codegen (minhash + banding, within-batch window,
        partition-pruned bucket probe, bucketed parquet append) before
        the first real micro-batch, which otherwise pays the JIT +
        codegen cost on the latency path. Measured on a 4-core host
        with 200-doc batches: a cold first batch took 8.2-11.2 s
        against 4.4-5.4 s steady state (~2x); after warm_up (~14 s)
        the first batch took 3.9 s."""
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="dedup_warmup_")
        try:
            probe = IncrementalDedup(
                self.spark,
                os.path.join(tmp, "store"),
                text_col=self.text_col,
                id_col=self.id_col,
                bands=self.bands,
                num_hashes=self.num_hashes,
                hash_fn=self.hash_fn,
                compact_every=0,
            )
            seed = self.spark.createDataFrame(
                [(0, "warm up shingle one"), (1, "warm up shingle two")],
                f"{self.id_col} long, {self.text_col} string",
            )
            probe.process_batch(seed, 0).count()
            probe.process_batch(
                seed.filter(F.col(self.id_col) == 1), 1
            ).count()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # -- store --------------------------------------------------------
    def _has_store(self) -> bool:
        """Whether a store exists on disk. Crash recovery for
        compact()'s swap window: if the store was renamed away but the
        fully-written compacted copy never took its place, finish the
        swap (the tmp dir is only ever complete at that point — the
        write finishes before any rename starts)."""
        if os.path.exists(self.store_dir):
            return True
        tmp = self.store_dir.rstrip("/") + ".compacting"
        if os.path.exists(tmp):
            os.rename(tmp, self.store_dir)
            return True
        return False

    def _store(
        self, buckets: list[int] | None = None, dedup: bool = True
    ) -> DataFrame:
        """Read the signature store; ``buckets`` restricts the scan to
        the named band-hash buckets (partition-pruned — only those
        bucket directories are read). Legacy non-partitioned stores are
        read whole with the bucket derived on the fly. ``dedup=False``
        skips the 3-column retry-dedup shuffle for probe paths that
        only match keys against the rows."""
        if not self._has_store():
            # zero-partition frame: no Python RDD, so no Python workers
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), _STORE_SCHEMA + ", bucket int"
            )
        bucketed = self._known_bucketed or any(
            e.startswith("bucket=") for e in os.listdir(self.store_dir)
        )
        self._known_bucketed = bucketed
        if bucketed:
            df = self.spark.read.schema(_STORE_SCHEMA + ", bucket int").parquet(
                self.store_dir
            )
            if buckets is not None:
                df = df.filter(F.col("bucket").isin([int(b) for b in buckets]))
        else:
            df = (
                self.spark.read.schema(_STORE_SCHEMA)
                .parquet(self.store_dir)
                .withColumn("bucket", _bucket_of(F.col("band_hash")))
            )
        if dedup:
            df = df.dropDuplicates(["band", "band_hash", "doc_id"])
        return df

    def compact(self) -> None:
        """Rewrite the store to one file per bucket. Micro-batch appends
        accumulate one file per touched bucket per batch, so probe
        latency at high batch counts becomes footer/listing-bound —
        the classic small-file problem; LSM stores solve it with
        compaction and so does this (single-writer context: call
        between batches, e.g. via ``compact_every``). Duplicate
        (band, band_hash, doc_id) rows keep their MIN batch_id so the
        strictly-earlier retry semantics are preserved."""
        if not os.path.exists(self.store_dir):
            return
        if not any(e.startswith("bucket=") for e in os.listdir(self.store_dir)):
            return
        import shutil

        compacted = (
            self.spark.read.schema(_STORE_SCHEMA + ", bucket int")
            .parquet(self.store_dir)
            .groupBy("band", "band_hash", "doc_id", "bucket")
            .agg(F.min("batch_id").alias("batch_id"))
            .select("band", "band_hash", "doc_id", "batch_id", "bucket")
        )
        tmp = self.store_dir.rstrip("/") + ".compacting"
        old = self.store_dir.rstrip("/") + ".retired"
        compacted.repartition(_N_BUCKETS, "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(tmp)
        # swap via rename-then-delete: a crash at any point leaves
        # either the original store or the fully-written compacted one
        # on disk — never a deleted store with the replacement still
        # at the tmp path (rmtree-then-rename had exactly that window)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.store_dir, old)
        os.rename(tmp, self.store_dir)
        shutil.rmtree(old, ignore_errors=True)
        # drop Spark's cached file listing for the path — the next
        # probe must see the compacted files, not the deleted originals
        self.spark.catalog.refreshByPath(self.store_dir)

    def _band_rows(self, df: DataFrame) -> DataFrame:
        """(band, band_hash, doc_id) rows — one per band per doc, the
        same banding the batch LSH join keys on."""
        if self._band_cols is None:
            # the expressions are the same for every batch: build them
            # (hundreds of py4j calls) once per processor
            h64 = resolve_hash_fn(self.hash_fn)
            rows = self.num_hashes // self.bands
            # identical band-hash construction to the batch pipeline's
            # lsh_candidate_pairs, so a doc's (band, band_hash) rows are
            # the same whether it arrived by stream or batch
            bands = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        h64(
                            F.concat_ws(
                                ",",
                                *[F.col("signature")[b * rows + i] for i in range(rows)],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(self.bands)
                ]
            )
            sig = minhash_column(self.text_col, self.num_hashes, hash_fn=self.hash_fn)
            self._band_cols = (sig.alias("signature"), F.explode(bands).alias("b"))
        sig, bands = self._band_cols
        return (
            df.select(F.col(self.id_col).alias("doc_id"), sig)
            .select("doc_id", bands)
            .select(F.col("b.band").alias("band"), F.col("b.band_hash").alias("band_hash"), "doc_id")
        )

    # -- batch step ---------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Filter one micro-batch against history; returns survivors
        (also appends their band rows to the store).

        History is restricted to STRICTLY EARLIER batches
        (``batch_id < this batch``): foreachBatch is at-least-once, and
        a retried batch must not see its own prior attempt's appended
        band rows — otherwise every incoming doc self-collides and the
        retry returns zero survivors while the first attempt's sink
        output was lost with the crash. Filtering by batch id makes the
        retry reproduce the first attempt's survivors exactly
        (idempotent sink output, not just an idempotent store)."""
        bid = int(batch_id)
        # the batch's band rows feed the probe, the within-batch join
        # and the append: minhash once, in one eager cut whose
        # observation also yields the buckets the probe must read
        touched = Observation()
        incoming = cut_lineage(
            self._band_rows(batch_df)
            .withColumn("bucket", _bucket_of(F.col("band_hash")))
            .observe(touched, F.collect_set("bucket").alias("buckets")),
            eager=True,
        )
        fresh, dropped = incoming, None
        if self._has_store():
            # probe path: history hits need no retry dedup (dedup=False);
            # the final distinct below absorbs repeated store rows
            store = self._store(touched.get["buckets"], dedup=False).filter(
                F.col("batch_id") < F.lit(bid)
            )
            # history collisions: any shared band drops the incoming doc.
            # An inner join, not a left semi-join, so the planner may
            # broadcast either side: the batch's band rows once the
            # store outgrows them (a semi-join could only build the store)
            dropped = store.select("band", "band_hash").join(
                incoming.select("band", "band_hash", "doc_id"),
                ["band", "band_hash"],
            ).select("doc_id")
            fresh = incoming.join(F.broadcast(dropped), "doc_id", "left_anti")
        # within-batch collisions among the rest, greedy keep-lowest-id:
        # a doc loses when a lower-id doc shares any of its bands, i.e.
        # when it is not the minimum id of one of its band keys — one
        # shuffle on the key, linear in the band rows even when a batch
        # holds many copies of one document
        first = F.min("doc_id").over(Window.partitionBy("band", "band_hash"))
        losers = (
            fresh.select("doc_id", first.alias("_first"))
            .filter(F.col("doc_id") > F.col("_first"))
            .select("doc_id")
        )
        dropped = losers if dropped is None else dropped.unionByName(losers)
        # decide once: both the append and the survivors anti-join this
        # materialized set, so neither re-runs the minhash or the probe
        dropped = cut_lineage(dropped.distinct(), eager=True)
        out_rows = incoming.join(F.broadcast(dropped), "doc_id", "left_anti").select(
            "band", "band_hash", "doc_id", F.lit(bid).cast("long").alias("batch_id"), "bucket"
        )
        # one file per touched bucket per batch: hash-partitioning on
        # the partition key puts each bucket in exactly one task at the
        # session's partition count, keeping the per-bucket file count
        # — and hence probe IO — proportional to batches
        out_rows.repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(self.store_dir)
        if self.compact_every and (bid + 1) % self.compact_every == 0:
            self.compact()
        # lazy, but reads only the batch and the materialized dropped
        # set — never the store files a compaction may delete
        return batch_df.join(
            F.broadcast(dropped.withColumnRenamed("doc_id", self.id_col)),
            self.id_col,
            "left_anti",
        )

    def run_stream(self, stream_df: DataFrame, checkpoint_dir: str, sink_fn=None):
        """Wire as a foreachBatch sink; ``sink_fn(survivors, batch_id)``
        receives the filtered batch (default: discard — the store is
        the output)."""

        def step(batch_df: DataFrame, batch_id: int) -> None:
            survivors = self.process_batch(batch_df, batch_id)
            if sink_fn is not None:
                sink_fn(survivors, batch_id)

        return (
            stream_df.writeStream.foreachBatch(step)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
