"""StreamingCuratorPipeline — ingest-time curation end-to-end: the
foreachBatch twin of ``Curator.apply()`` that curates documents AS THEY
ARRIVE instead of in one offline pass. Composes the proven streaming
members of each Curator stage, in the batch Curator's stage order:

1. **quality** — the REAL ``Curator._quality_stage`` closure (gopher /
   min_score / classifier gates), stateless, so batch and stream
   verdicts are the same code path by construction.
2. **dedup** — ``IncrementalDedupPipeline.dedup_batch``: exact +
   optional MinHash near-dup against the committed SIGNATURE store
   (per-trigger cost independent of corpus text size).
3. **domain_cap** — a stateful per-source quota on a RUNNING count:
   a domain that has already committed ``cap`` documents admits no
   more. This is the one semantic that MUST differ from the batch
   ``domain_cap`` (keep the cap BEST by quality): a stream cannot
   revoke documents it already committed. WITHIN a batch, admission
   follows the batch ranking — best ``quality_col`` first, ties to
   ascending id (replay-deterministic) — so batch and stream survivor
   sets coincide exactly whenever a domain's contenders arrive in one
   trigger; the residual divergence is cross-epoch arrivals only.
   Without a ``quality_col``, admission is pure arrival order
   (ascending id).

Per-epoch FUNNEL counters (epoch, stage, n_docs) are written alongside
the corpus, with the same stage names as ``Curator.report()`` /
``curation_funnel`` ("input", "quality", "dedup", "domain_cap") — the
summed stream funnel equals the batch report when the survivor sets
match.

Exactly-once under at-least-once replay: every store (text, signatures,
quota, funnel) is a ``storeutil.EpochStore`` — per-epoch overwrite, and
every read that feeds a VERDICT excludes the current epoch's partition,
so a replayed batch recomputes identical verdicts and rewrites its own
partitions instead of double-counting. Same PRECONDITION as every
ingest store: document ids are unique across the stream.

100 TB shape, per trigger: the quality gates are map-only; dedup scans
signature-sized corpus data (band-df-capped); the quota reads the
committed per-(epoch, domain) admission counts — one small row per
domain per epoch between compactions, NOT per document — and the
within-batch rank window is batch-sized, partitioned by domain. Four
driver actions per trigger (the funnel counts), each over a batch-sized
or smaller relation that is already materialized by the commit
checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from sarkac_spark.streaming.incremental_dedup import IncrementalDedupPipeline
from sarkac_spark.streaming.storeutil import BASE_EPOCH, EpochStore

_ALLOWED_STAGES = {"quality", "dedup", "domain_cap"}


def apply_domain_quota(
    kept: DataFrame, prior: DataFrame | None, cfg: dict, id_col: str
) -> DataFrame:
    """The streaming domain-quota admission rule, shared by
    ``StreamingCuratorPipeline`` and ``stateful_ingest_dedup`` (one
    implementation so the two ingest engines cannot diverge).

    WITHIN a batch, best-quality first when ``quality_col`` is
    configured (ties to ascending id so replay stays deterministic),
    else pure ascending-id arrival order; admit while
    ``prior + rank <= cap``. ``prior`` is the per-domain running
    admission count (one small row per domain; None = empty store).
    The join is NULL-SAFE: null domains are one domain to the window
    AND the quota store, so the running count must match them too — a
    null-unsafe key would hand null-domain docs a fresh cap every
    batch."""
    domain_col = cfg.get("domain_col", "source")
    cap = int(cfg["cap"])
    order = [F.col(id_col).asc()]
    if cfg.get("quality_col") is not None:
        order.insert(0, F.col(cfg["quality_col"]).desc())
    w = Window.partitionBy(domain_col).orderBy(*order)
    ranked = kept.withColumn("__rn", F.row_number().over(w))
    if prior is not None:
        prior = prior.withColumnRenamed(domain_col, "__dom")
        ranked = ranked.join(
            prior, F.col(domain_col).eqNullSafe(F.col("__dom")), "left"
        ).drop("__dom")
    else:
        ranked = ranked.withColumn("__prior", F.lit(None).cast("long"))
    return ranked.filter(
        F.col("__rn") + F.coalesce(F.col("__prior"), F.lit(0)) <= cap
    ).drop("__rn", "__prior")


class QuotaFunnelStores:
    """The two count stores both ingest engines keep beside their
    corpus: per-(epoch, domain) admission counts (``store_dir +
    "_quota"``, read back as ``apply_domain_quota``'s ``prior``) and
    the per-epoch funnel (``+ "_funnel"``: epoch, stage, n_docs)."""

    def __init__(
        self, spark: SparkSession, store_dir: str, domain_cap: dict | None
    ) -> None:
        self.spark = spark
        self.quota = EpochStore(spark, store_dir.rstrip("/") + "_quota")
        self.funnel = EpochStore(spark, store_dir.rstrip("/") + "_funnel")
        self.capped = domain_cap is not None
        self.domain_col = (domain_cap or {}).get("domain_col", "source")

    def prior_quota(self, exclude_epoch: int) -> DataFrame | None:
        """Committed per-domain admission totals, excluding the current
        epoch's partition (replay safety)."""
        q = self.quota.read(exclude_epoch=exclude_epoch)
        if q is None:
            return None
        return q.groupBy(self.domain_col).agg(F.sum("n_admitted").alias("__prior"))

    def write(
        self, epoch_id: int, counts: list[tuple[str, int]], admitted: DataFrame
    ) -> None:
        """Commit one epoch's funnel ``counts`` and, under a domain cap,
        the per-domain counts of its ``admitted`` docs."""
        if self.capped:
            self.quota.write(
                admitted.groupBy(self.domain_col).agg(
                    F.count(F.lit(1)).alias("n_admitted")
                ),
                epoch_id,
            )
        self.funnel.write(
            self.spark.createDataFrame(counts, "stage string, n_docs long").coalesce(1),
            epoch_id,
        )

    def compact(self) -> None:
        """Fold quota rows to one summed row per domain and funnel rows
        to one summed row per stage. The quota folds by the store's OWN
        domain column (everything but the count), so a store left over
        from an earlier configuration compacts even if ``domain_cap``
        was since removed."""
        self.quota.compact(
            lambda q: q.groupBy(*[c for c in q.columns if c != "n_admitted"]).agg(
                F.sum("n_admitted").alias("n_admitted")
            ),
            partitions=1,
        )
        self.funnel.compact(
            lambda f: f.groupBy("stage").agg(F.sum("n_docs").alias("n_docs")),
            partitions=1,
        )


class StreamingCuratorPipeline:
    """``config`` takes the ``Curator`` config shape, restricted to the
    stages with a streaming member: ``quality`` (any Curator quality
    cfg), ``dedup`` (``{"minhash": {...}}`` adds near-dup dropping;
    exact dedup ALWAYS runs — even with no ``dedup`` key — because a
    streaming corpus store without exact dedup would commit
    byte-identical replays as new rows; the funnel therefore always
    carries a ``dedup`` row), and
    ``domain_cap`` (``{"domain_col": ..., "cap": N}``). Offline-only
    stages (decontaminate/winnow/sample/mixture/chunk/pack) raise: they
    either need a second full relation per trigger or reshape the
    output schema — run them as a batch pass over ``committed()``.

    Stores under ``store_dir`` (all ``storeutil.EpochStore`` per-epoch
    stores): the committed corpus (full input schema), its dedup
    signatures (``store_dir + "_sigs"``), and the ``QuotaFunnelStores``
    (``+ "_quota"``, ``+ "_funnel"``).

    ``engine`` selects the dedup substrate (the sigma facade's
    ``engine`` switch, applied to ingest curation):

    - ``"parquet"`` (default) — ``IncrementalDedupPipeline``: committed-
      corpus semantics, per-trigger column-pruned signature-store scan
      (O(store) residual, 1.56x across the measured 100x decade), the
      replay-auditable arm.
    - ``"stateful"`` — ``StatefulDedupPipeline``: seen-corpus semantics,
      keyed band state with point lookups (per-trigger wall FLAT, 0.83x
      across the same decade and absolutely faster at every point —
      BASELINE.md §stream-decade), the 100 TB deployment arm. Same
      quality closures, same ``apply_domain_quota`` admission rule, so
      the two engines can only diverge on the documented seen-vs-
      committed contract (near-dup chains + quota-rejected docs). The
      stateful engine owns its foreachBatch: drive it via ``start()``
      (``process_batch`` raises), and its funnel has no pre-quality
      row — its ``input`` stage counts post-quality docs (the parquet
      arm's ``quality`` row).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        config: dict,
        id_col: str = "doc_id",
        text_col: str = "text",
        engine: str = "parquet",
    ) -> None:
        unknown = set(config) - _ALLOWED_STAGES
        if unknown:
            raise ValueError(
                f"no streaming member for curation stage(s) {sorted(unknown)}; "
                "run them as a batch pass over committed()"
            )
        if engine not in ("parquet", "stateful"):
            raise ValueError(
                f"unknown engine {engine!r}: expected 'parquet' or 'stateful'"
            )
        self.spark = spark
        self.store_dir = store_dir
        self._text = EpochStore(spark, store_dir)
        self._counts = QuotaFunnelStores(spark, store_dir, config.get("domain_cap"))
        self.quota_dir = self._counts.quota.path
        self.funnel_dir = self._counts.funnel.path
        self.config = config
        self.id_col = id_col
        self.text_col = text_col
        self.engine = engine
        dedup_cfg = config.get("dedup") or {}
        if engine == "stateful":
            from sarkac_spark.streaming.stateful_ingest_dedup import (
                StatefulDedupPipeline,
            )

            self._stateful = StatefulDedupPipeline(
                spark,
                store_dir,
                id_col=id_col,
                text_col=text_col,
                minhash=dedup_cfg.get("minhash"),
                domain_cap=config.get("domain_cap"),
                state_ttl_seconds=dedup_cfg.get("state_ttl_seconds"),
            )
            self._dedup = None
        else:
            self._stateful = None
            self._dedup = IncrementalDedupPipeline(
                spark,
                store_dir,
                id_col=id_col,
                text_col=text_col,
                minhash=dedup_cfg.get("minhash"),
            )
        if "quality" in config:
            # drive the REAL batch stage builder (the curation_funnel
            # precedent): stream and batch quality verdicts are one
            # code path, not a reimplementation.
            from sarkac_spark.curator import Curator

            self._quality_fn = Curator(
                spark, {"quality": config["quality"]}, id_col, text_col
            )._quality_stage(config["quality"])
        else:
            self._quality_fn = None

    # --- stores -------------------------------------------------------------

    def committed(self) -> DataFrame:
        """The curated corpus so far (full input schema)."""
        return self.spark.read.parquet(self.store_dir).drop("epoch")

    def funnel(self) -> DataFrame:
        """(epoch, stage, n_docs) — per-trigger curation funnel, stage
        names matching ``Curator.report()``."""
        return self.spark.read.parquet(self.funnel_dir)

    def _quota(self, kept: DataFrame, epoch_id: int) -> DataFrame:
        # the shared admission rule (see apply_domain_quota): within-
        # batch quality-then-id ranking against the committed running
        # counts, replay-safe because the prior read excludes this epoch
        return apply_domain_quota(
            kept,
            self._counts.prior_quota(exclude_epoch=epoch_id),
            self.config["domain_cap"],
            self.id_col,
        )

    # --- the trigger --------------------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if self._stateful is not None:
            raise RuntimeError(
                f"engine={self.engine!r} owns its own stateful streaming "
                "query — drive it with start(); there is no per-batch "
                "entry point"
            )
        counts: list[tuple[str, int]] = [("input", batch.count())]
        d = batch
        if self._quality_fn is not None:
            # batch-sized eager checkpoint: the stage is evaluated once
            # for both its funnel count and the next stage's input
            d = self._quality_fn(d).localCheckpoint(eager=True)
            counts.append(("quality", d.count()))
        # dedup ALWAYS runs (exact at minimum; minhash when configured):
        # a streaming corpus store without exact dedup would commit
        # byte-identical replays as new rows — the class contract.
        d = self._dedup.dedup_batch(d, epoch_id).localCheckpoint(eager=True)
        counts.append(("dedup", d.count()))
        if "domain_cap" in self.config:
            d = self._quota(d, epoch_id)
        # commit_batch materializes the final survivors and writes the
        # text + signature stores (per-epoch overwrite)
        admitted = self._dedup.commit_batch(d, epoch_id)
        if "domain_cap" in self.config:
            counts.append(("domain_cap", admitted.count()))
        self._counts.write(epoch_id, counts, admitted)

    # --- lifecycle ----------------------------------------------------------

    def start(
        self,
        doc_stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
    ):
        if self._stateful is not None:
            # quality gates are stateless closures — apply them to the
            # stream before the stateful engine's DAG (its composition
            # contract); dedup + quota live inside the engine
            if self._quality_fn is not None:
                doc_stream = self._quality_fn(doc_stream)
            return self._stateful.start(doc_stream, checkpoint_dir, trigger_seconds)
        writer = doc_stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def bootstrap_state(
        self, corpus_df: DataFrame, checkpoint_dir: str, source_dir: str
    ) -> int:
        """Bulk-onboard an existing (already-curated) corpus — keyed-
        state engine only; see ``StatefulDedupPipeline.bootstrap_state``."""
        if self._stateful is None:
            raise RuntimeError(
                "bootstrap_state is the keyed-state engine's bulk onboard; "
                "the parquet engine seeds by committing the corpus as an "
                "epoch (process_batch) — its signature store IS its state"
            )
        return self._stateful.bootstrap_state(
            corpus_df, checkpoint_dir, source_dir
        )

    def backfill(
        self,
        corpus_df: DataFrame,
        checkpoint_dir: str | None = None,
        source_dir: str | None = None,
    ) -> int:
        """Bulk-load a large RAW corpus through the regime-appropriate
        path instead of streaming it through per-trigger ingest.
        BENCH_STREAM_TRANSPOSE measured the regime split: at 50k-doc
        bulk triggers the keyed-state engine pays 4.6x over the batch
        axis (floor-dominated) while the batch/parquet path amortizes
        at 1.25x — so a backfill must NOT go through ``start()`` on the
        stateful engine. Routing (both arms end with the stores in the
        exact state streaming expects, so ``start()`` on a fresh
        checkpoint continues incrementally):

        - ``parquet`` engine: ONE batch trigger — ``process_batch`` at
          ``epoch=-1`` (the ``compact()`` base-layer shape). The
          signature store written by that pass IS the engine's state.
        - ``stateful`` engine: batch-curate first (quality closure +
          the parquet arm's batch dedup verdicts against an empty
          store — the same within-batch rule both engines pin — + the
          shared quota rule at zero priors), then bulk-onboard the
          survivors via ``bootstrap_state`` (REQUIRES
          ``checkpoint_dir`` + ``source_dir``: band state lives in the
          streaming checkpoint). The epoch=-1 funnel records the
          ONBOARDED count per stage (the ``bootstrap_state``
          convention), not the raw-input funnel.

        Returns the number of docs committed by the backfill."""
        if self._stateful is None:
            store = self._text.read()
            if store is not None and not store.filter(
                F.col("epoch") == BASE_EPOCH
            ).isEmpty():
                # the stateful arm is guarded by bootstrap_state's
                # fresh-checkpoint check; parquet must refuse here or
                # the overwrite silently drops the first corpus
                raise ValueError(
                    "store already has an epoch=-1 base layer (a prior "
                    "backfill or compact()) — a second backfill would "
                    "overwrite it; stream the new corpus instead (it "
                    "dedups against the existing state), or backfill "
                    "into a fresh store"
                )
            self.process_batch(corpus_df, BASE_EPOCH)
            store = self._text.read()
            return (
                0 if store is None
                else store.filter(F.col("epoch") == BASE_EPOCH).count()
            )
        if checkpoint_dir is None or source_dir is None:
            raise ValueError(
                "stateful-engine backfill onboards band state into the "
                "streaming checkpoint: pass checkpoint_dir (fresh) and "
                "source_dir (empty) — see "
                "StatefulDedupPipeline.bootstrap_state"
            )
        d = corpus_df
        if self._quality_fn is not None:
            d = self._quality_fn(d)
        # batch dedup with the engines' shared within-batch verdict
        # rule: a scratch IncrementalDedupPipeline over a path that is
        # never created reads no prior store, so dedup_batch is a pure
        # within-corpus pass (it writes nothing). Inside source_dir, a
        # path that can only exist where bootstrap_state refuses anyway.
        scratch = IncrementalDedupPipeline(
            self.spark,
            os.path.join(source_dir, "_backfill_scratch"),
            id_col=self.id_col,
            text_col=self.text_col,
            minhash=(self.config.get("dedup") or {}).get("minhash"),
        )
        d = scratch.dedup_batch(d, epoch_id=BASE_EPOCH)
        if "domain_cap" in self.config:
            d = apply_domain_quota(d, None, self.config["domain_cap"], self.id_col)
        return self._stateful.bootstrap_state(d, checkpoint_dir, source_dir)

    def compact(self, target_partitions: int | None = None) -> int:
        """Fold every committed epoch of all four stores into one base
        partition each (``epoch=-1``; the ``IncrementalDedupPipeline``
        contract — run while the stream is STOPPED). Quota rows fold to
        one summed row per domain; funnel rows fold to one summed row
        per stage (``QuotaFunnelStores.compact``).
        Returns the compacted doc count."""
        if self._stateful is not None:
            # the keyed-state engine folds its own text/quota/funnel
            # stores (band state needs no compaction — the checkpoint
            # maintains it)
            return self._stateful.compact(target_partitions)
        n_docs = self._dedup.compact(target_partitions)
        self._counts.compact()
        return n_docs
