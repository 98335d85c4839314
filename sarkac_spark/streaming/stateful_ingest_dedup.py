"""StatefulDedupPipeline — the keyed-state ingest-dedup engine: true
O(batch) per-trigger cost at ANY committed-corpus size.

Why this engine exists: the parquet-store arm
(``IncrementalDedupPipeline`` / ``StreamingCuratorPipeline``) keeps
dedup signatures in a columnar store and re-SCANS the signature columns
every trigger. That scan is column-pruned and shuffle-free, but it is
still O(store) I/O — ``BENCH_STREAM_DECADE`` measured the curator's
per-trigger wall at 2.2x across a 100x store decade, attributed to the
``sh_set`` verify column (the shingle sets are the same order as the
text itself). At 10^10 committed docs no per-trigger scan survives.

The Spark-native fix is the same one the sigma engine uses
(``stateful_sigma``): move the membership structure into KEYED
STREAMING STATE, where the state store (RocksDB at scale —
``session.get_spark(rocksdb_state=True)``) does POINT LOOKUPS for
exactly the keys present in the batch instead of scanning the corpus:

- key   = LSH band key (plus one ``xh|<md5>`` exact band per doc, so
  byte-identical replays die even for docs too short to shingle),
- state = the band's seen members: (id, shingle-hash set), df-capped,
- op    = ``applyInPandasWithState``: each batch doc is verified
  (exact Jaccard, or the union-bottom-k estimator when ``max_sh_set``
  truncation is on) against ONLY its own bands' members.

Per-trigger cost: O(batch x bands) state lookups + a batch-sized
verdict aggregation. Committed-corpus size never appears.

Semantics vs the parquet arm (both pinned by tests):

- WITHIN a batch: identical — drop a doc iff it pairs (band collision
  + Jaccard >= threshold) with a LOWER-id batch mate, dropped or not
  (``incremental_minhash_drop_ids_sigs``'s exact within-batch rule).
- ACROSS triggers: this engine is SEEN-corpus (a new doc matching any
  previously OBSERVED doc — kept or dropped — is dropped), while the
  parquet arm is COMMITTED-corpus (dropped docs leave no trace). The
  engines diverge exactly where observed != committed:
  (a) near-dup CHAINS — A kept, B dropped as ~A, C arrives ~B but not
  ~A: parquet keeps C, this engine drops C
  (``test_chain_divergence_is_the_documented_contract``); and
  (b) QUOTA-REJECTED docs — band state is appended inside the stateful
  operator, upstream of the ``domain_cap`` stage, so a doc the quota
  later rejects still counts as observed: a subsequent near-identical
  doc (even from an under-cap domain) is dropped here but admitted by
  the parquet arm, which commits signatures only for post-quota
  survivors (``test_quota_rejected_docs_join_the_seen_corpus``).
  Feeding the quota verdict back into the operator is not expressible
  in one query (the per-band-key operator cannot see the global
  per-domain rank), and running quota BEFORE dedup would change the
  funnel semantics both engines share. Seen-corpus is the stricter and
  cheaper contract (state append needs no global kept-verdict), and is
  what Bloom-style production ingest dedup implements.
- Hot bands: a band whose ALL-TIME df reaches ``max_band_df`` stops
  matching AND stops growing (the parquet arm caps on CURRENT-relation
  df). Both bound per-row work at cap; docs still pair via their other
  bands.

Exactly-once: band state commits transactionally with the epoch (the
state store is versioned by batch id, so a replayed epoch re-runs
against its PRE-batch state and re-emits identical verdicts), and the
downstream text/quota/funnel stores follow the house per-epoch-
overwrite discipline. Same precondition as every ingest store: doc ids
unique across the stream.

Composition: quality gates are stateless — apply them to the stream
BEFORE ``start()`` (``Curator._quality_stage`` closures work as-is).
``domain_cap`` uses the SHARED ``apply_domain_quota`` admission rule,
so quota semantics cannot diverge from ``StreamingCuratorPipeline``.
Funnel stages recorded per epoch: ``input`` (post-quality), ``dedup``,
``domain_cap``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BooleanType, StructField, StructType

from sarkac_spark.operators.dedup import (
    MINHASH_MAX_BAND_DF,
    row_signatures,
)
from sarkac_spark.streaming.storeutil import (
    BASE_EPOCH,
    EpochStore,
    exists,
    list_dir,
    read_bytes,
)
from sarkac_spark.streaming.streaming_curator import (
    QuotaFunnelStores,
    apply_domain_quota,
)

# State value = three PACKED little-endian numpy buffers (member ids
# <i8, per-member set lengths <i4, concatenated shingle hashes <i8).
# Binary instead of array<long> on purpose: the per-key cost of the
# keyed-state protocol is dominated by converting state values between
# Python and Arrow element-by-element — with ~100 hashes/member that
# conversion was ~ms/key and set the floor for BOTH the per-trigger
# wall (2.5k keys/trigger) and the 2M-doc bootstrap (~10M keys). A
# bytes field crosses the boundary as one memcpy; numpy
# frombuffer/tobytes are the only (de)serializers. Explicit '<'
# byte order so checkpoints are portable across executor
# architectures. (Format note: state written by the r9 array<long>
# schema is NOT readable by this build — Spark validates the state
# schema at restart and fails loudly; rebuild via bootstrap_state.)
STATE_SCHEMA = "ids binary, lens binary, shs binary"
_EXACT_PREFIX = "xh|"


def _preflight_state_schema(spark: SparkSession, checkpoint_dir: str) -> None:
    """Best-effort remediation hint for pre-binary (r9 ``array<long>``)
    checkpoints: Spark's own state-schema validation fails the restart
    loudly but without saying HOW to recover. Peek at the checkpoint's
    recorded value schema (``state/0/0/_metadata/schema`` — a small
    validation artifact holding the key/value schema JSON) and, if it
    predates the packed-binary ``STATE_SCHEMA``, raise with the
    rebuild path. Any read hiccup falls through to Spark's own check —
    this guard only ever ADDS an error message, never blocks a legal
    start."""
    try:
        raw = read_bytes(
            spark, checkpoint_dir.rstrip("/") + "/state/0/0/_metadata/schema"
        )
    except Exception:  # noqa: BLE001 — advisory only
        return
    if raw is None:
        return
    # require a POSITIVE pre-binary marker (the r9 array<long> element
    # type) on top of the binary marker being absent — a future schema
    # serialization that merely mentions "shs" must not falsely block a
    # legal restart (the docstring's only-ever-ADDS contract)
    if (
        b'"name":"ids","type":"binary"' not in raw
        and b'"shs"' in raw
        and b'"elementType":"long"' in raw
    ):
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} holds band state written by a "
            "pre-binary STATE_SCHEMA build (array<long> members); Spark "
            "cannot migrate keyed state in place. Recover by discarding "
            "the checkpoint and re-onboarding the committed corpus: "
            "pipe.bootstrap_state(pipe.committed(), <fresh checkpoint>, "
            "<fresh source_dir>), then point the stream at the new "
            "source_dir."
        )


try:  # pragma: no cover - import guard (module also loads sans streaming)
    from pyspark.sql.streaming import StreamingQueryListener as _SQListener
except Exception:  # noqa: BLE001
    _SQListener = object  # type: ignore[assignment,misc]


class _ProgressAccumulator(_SQListener):  # type: ignore[valid-type,misc]
    """StreamingQueryListener that accumulates EVERY progress event
    per query id — unlike ``recentProgress`` it is unbounded, so a
    seed batch's entry cannot be evicted by fast timer-only batch
    churn before the bootstrap wait loop observes it (the
    numRecentProgressUpdates ring holds only the last 100)."""

    def __init__(self) -> None:
        self.by_query: dict[str, dict[int, int]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.by_query.setdefault(str(p.id), {})[int(p.batchId)] = int(
            p.numInputRows
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _unpack_state(state: GroupState):
    """State bytes -> (ids <i8, lens <i4, shs <i8) numpy views."""
    if state.exists:
        ids_b, lens_b, shs_b = state.get
        return (
            np.frombuffer(ids_b or b"", dtype="<i8"),
            np.frombuffer(lens_b or b"", dtype="<i4"),
            np.frombuffer(shs_b or b"", dtype="<i8"),
        )
    return (
        np.empty(0, dtype="<i8"),
        np.empty(0, dtype="<i4"),
        np.empty(0, dtype="<i8"),
    )


def _pack_state(ids, lens, shs) -> tuple[bytes, bytes, bytes]:
    return (
        np.asarray(ids, dtype="<i8").tobytes(),
        np.asarray(lens, dtype="<i4").tobytes(),
        np.asarray(shs, dtype="<i8").tobytes(),
    )


def _verify_batch(
    key0: str,
    pdf: pd.DataFrame,
    ids: np.ndarray,
    lens: np.ndarray,
    shs: np.ndarray,
    id_col: str,
    threshold: float,
    max_band_df: int | None,
    bottom_k: int | None,
):
    """Pure verify+append core of ``_band_verdicts``: given one band's
    batch rows (already concatenated) and its unpacked prior state,
    return ``(out_pdf, new_state_or_None)`` where ``out_pdf`` carries
    the payload + ``__dropped`` and ``new_state`` is the packed
    post-append state triple (``None`` = no append happened, state
    unchanged). Kept free of any state API so the verdicts can be
    pinned directly, without a streaming query.

    Hot-path shape: most groups are a single fresh doc on a band with
    no state (the decade/seed profile), so the verify work is gated
    behind the exact/hot/fresh checks and the member comparison is
    vectorized numpy (one ``np.isin`` over the band's flattened prior
    sets per doc, segment sums via cumsum — no per-pair Python set
    ops). ``sh_set`` arrives sorted+distinct (``row_signatures``
    contract) and state segments are stored the same way."""
    exact = key0.startswith(_EXACT_PREFIX)
    n = len(pdf)
    if n > 1:
        pdf = pdf.sort_values(id_col, kind="stable", ignore_index=True)
    dropped = np.zeros(n, dtype=bool)

    hot = max_band_df is not None and ids.size >= max_band_df
    if exact:
        # presence match: any prior member, or any lower-id batch
        # mate (identical digest => identical text)
        if ids.size:
            dropped[:] = True
        else:
            dropped[1:] = True
    elif not hot and (ids.size or n > 1):
        ends = np.cumsum(lens, dtype=np.int64)
        starts = ends - lens
        batch_sets = [np.asarray(x, dtype=np.int64) for x in pdf["sh_set"]]
        for r in range(n):
            a = batch_sets[r]
            if a.size == 0:
                continue
            if shs.size and _any_match(
                a, shs, lens, starts, ends, threshold, bottom_k
            ):
                dropped[r] = True
                continue
            for m in range(r):
                if _jaccard_np(a, batch_sets[m], bottom_k) >= threshold:
                    dropped[r] = True
                    break

    # seen-corpus append, bounded at the df cap; an exact band only
    # ever needs its FIRST member (presence is the whole verdict),
    # so its state stays one entry however many replays land on it.
    # No append => no new state: rewriting an identical value would
    # only pay the serialization again.
    id_arr = pdf[id_col].to_numpy()
    sh_arr = None if exact else pdf["sh_set"].to_numpy()
    add_ids: list = []
    add_lens: list = []
    add_shs: list = []
    for r in range(n):
        if exact and (ids.size or add_ids):
            break
        if (
            max_band_df is not None
            and ids.size + len(add_ids) >= max_band_df
        ):
            break
        add_ids.append(id_arr[r])
        s = (
            np.empty(0, dtype="<i8")
            if exact
            else np.asarray(sh_arr[r], dtype="<i8")
        )
        add_lens.append(s.size)
        add_shs.append(s)
    new_state = None
    if add_ids:
        new_state = _pack_state(
            np.concatenate([ids, np.asarray(add_ids, dtype="<i8")]),
            np.concatenate([lens, np.asarray(add_lens, dtype="<i4")]),
            np.concatenate([shs, *add_shs]),
        )

    out = pdf.drop(columns=["sh_set", "band_key"])
    out["__dropped"] = dropped
    return out, new_state


def _seed_members(
    key0: str,
    pdf: pd.DataFrame,
    ids: np.ndarray,
    lens: np.ndarray,
    shs: np.ndarray,
    id_col: str,
    max_band_df: int | None,
):
    """Pure bootstrap core of ``_seed_state`` (state-API-free like
    ``_verify_batch``): install the corpus rows of one band as state
    members — capped, id-ordered, no verify — and return the packed
    state triple, or ``None`` when the band is already at cap. The
    membership equals what a full replay of the (already-deduped)
    corpus would have installed: replay sorts the batch by id and
    appends the first ``max_band_df`` members; exact ``xh|`` bands keep
    one member."""
    exact = key0.startswith(_EXACT_PREFIX)
    cap = 1 if exact else max_band_df
    if cap is not None and ids.size >= cap:
        return None
    id_arr = pdf[id_col].to_numpy()
    n = len(id_arr)
    order = None
    if n > 1:
        order = np.argsort(id_arr, kind="stable")
        id_arr = id_arr[order]
    take = n if cap is None else min(n, int(cap - ids.size))
    new_ids = np.asarray(id_arr[:take], dtype="<i8")
    if exact:
        new_lens = np.zeros(take, dtype="<i4")
        new_sets: list = []
    else:
        sh_col = pdf["sh_set"].to_numpy()
        if order is not None:
            sh_col = sh_col[order]
        new_sets = [np.asarray(sh_col[r], dtype="<i8") for r in range(take)]
        new_lens = np.fromiter(
            (s.size for s in new_sets), dtype="<i4", count=take
        )
    return _pack_state(
        np.concatenate([ids, new_ids]),
        np.concatenate([lens, new_lens]),
        np.concatenate([shs, *new_sets]) if new_sets else shs,
    )


def _concat_chunks(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    # band groups are df-capped small: concat so the lower-id-mate
    # rule sees the whole group, not one Arrow chunk at a time
    chunks = list(pdfs)
    return chunks[0] if len(chunks) == 1 else pd.concat(
        chunks, ignore_index=True
    )


def _band_verdicts(
    id_col: str,
    threshold: float,
    max_band_df: int | None,
    bottom_k: int | None,
    ttl_seconds: int | None = None,
):
    """The per-band stateful function (``applyInPandasWithState``
    engine): verify each new doc against the band's seen members
    (state) and its lower-id batch mates via the shared
    ``_verify_batch`` core, emit the payload row + ``__dropped``,
    append the batch to state (seen-corpus semantics; see module
    docstring). Exact bands (``xh|`` prefix) match on presence — same
    text hash IS the same text."""

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_seconds is not None and state.hasTimedOut:
            # band idle past the TTL: evict — a later dup re-admits
            # (the time-bounded dedup mode; see class docstring)
            state.remove()
            return
        ids, lens, shs = _unpack_state(state)
        out, new_state = _verify_batch(
            key[0],
            _concat_chunks(pdfs),
            ids,
            lens,
            shs,
            id_col,
            threshold,
            max_band_df,
            bottom_k,
        )
        if new_state is not None:
            state.update(new_state)
        if ttl_seconds is not None and state.exists:
            # sliding idle-TTL: every touch re-arms the clock
            state.setTimeoutDuration(int(ttl_seconds) * 1000)
        yield out

    return fn


def _seed_state(
    id_col: str,
    max_band_df: int | None,
    ttl_seconds: int | None = None,
):
    """The bootstrap twin of ``_band_verdicts``: INSTALL state, verify
    nothing, emit nothing. The corpus is taken as already-deduped
    (``bootstrap_state`` precondition), so the only work per band is
    the capped, id-ordered member append — the same membership a full
    replay of the deduped corpus would have produced (replay sorts the
    batch by id and appends the first ``max_band_df`` members; exact
    ``xh|`` bands keep one member). Zero output rows keep the Arrow
    return path empty; per-group cost is the function call + the state
    update, which is the floor applyInPandasWithState allows."""

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_seconds is not None and state.hasTimedOut:
            state.remove()
            return
        ids, lens, shs = _unpack_state(state)
        new_state = _seed_members(
            key[0], _concat_chunks(pdfs), ids, lens, shs, id_col, max_band_df
        )
        if new_state is not None:
            state.update(new_state)
        if ttl_seconds is not None and state.exists:
            state.setTimeoutDuration(int(ttl_seconds) * 1000)
        return
        yield  # pragma: no cover — makes fn a generator, like the hot path

    return fn


def _round6(x):
    """6-decimal HALF_UP rounding, matching the parquet arm's
    ``F.round(jac, 6)`` (Spark rounds doubles HALF_UP; Python's builtin
    ``round`` is banker's, which diverges on exact ties like 1/128).
    Works elementwise on numpy arrays and on scalars."""
    return np.floor(x * 1e6 + 0.5) / 1e6


def _any_match(
    a, prior_flat, prior_sizes, starts, ends, threshold, bottom_k
) -> bool:
    """True iff doc set ``a`` (sorted unique int64) crosses
    ``threshold`` against ANY prior member. Exact mode computes every
    member's intersection size in one vectorized pass: membership mask
    over the flattened segments, per-segment sums via cumsum
    differences (zero-length segments come out 0, matching the
    empty-set-never-matches rule)."""
    if bottom_k is not None:
        for j in range(len(prior_sizes)):
            b = prior_flat[starts[j]:ends[j]]
            if _jaccard_np(a, b, bottom_k) >= threshold:
                return True
        return False
    cum = np.concatenate([[0], np.cumsum(np.isin(prior_flat, a))])
    inters = cum[ends] - cum[starts]
    jac = inters / (a.size + prior_sizes - inters)
    return bool(np.any(_round6(jac) >= threshold))


def _jaccard_np(a, b, bottom_k: int | None) -> float:
    """Rounded Jaccard over sorted unique int64 arrays: exact, or the
    union-bottom-k estimator when the stored sets are ``max_sh_set``-
    truncated (k smallest of A∪B, fraction in both — the
    ``incremental_minhash_drop_ids_sigs(max_sh_set=...)`` estimator,
    exact whenever |A∪B| <= k and unbiased otherwise). Rounded to 6
    decimals (HALF_UP) so threshold verdicts are bit-identical to the
    parquet arm's ``F.round(jac, 6) >= threshold``."""
    if a.size == 0 or b.size == 0:
        return 0.0
    inter = np.intersect1d(a, b, assume_unique=True)
    if bottom_k is None:
        return float(
            _round6(inter.size / (a.size + b.size - inter.size))
        )
    union_size = a.size + b.size - inter.size
    if union_size <= bottom_k:
        return float(_round6(inter.size / union_size))
    kth = np.union1d(a, b)[bottom_k - 1]
    both = int(np.count_nonzero(inter <= kth))
    return float(_round6(both / bottom_k))


class StatefulDedupPipeline:
    """``minhash`` dict (``k``, ``bands``, ``threshold``, ``shingle_n``,
    ``max_band_df``, ``max_sh_set``) configures near-dup dropping; None
    runs exact-only (the ``xh|`` bands alone). ``domain_cap``
    (``{"domain_col", "cap", "quality_col"?}``) adds the shared quota
    stage. Stores: ``store_dir`` (committed corpus, epoch partitions),
    ``_quota`` / ``_funnel`` siblings — NO signature store: the band
    state inside the streaming checkpoint replaces it.

    ``state_ttl_seconds`` switches corpus-level dedup (state grows with
    the distinct-band count forever — correct for one-corpus ingest) to
    TIME-BOUNDED dedup: a band idle longer than the TTL is evicted, so
    a later duplicate of an expired doc is re-admitted. This is
    ``dropDuplicatesWithinWatermark`` semantics at band granularity,
    on PROCESSING time (idle-touch sliding TTL — every batch that
    lands on a band re-arms its clock; an event-time variant would need
    a watermark through the stateful op, which
    ``applyInPandasWithState`` ties to EventTimeTimeout and a
    watermarked column this payload does not carry). State size is then
    bounded by the distinct bands seen per TTL window instead of
    all-time (sizing table: ARCHITECTURE.md §state-sizing). The TTL
    must be constant for a checkpoint's lifetime (it selects the
    operator's timeout mode, which Spark pins at first start). With a
    TTL armed the operator always reports another batch may be needed,
    so an ``availableNow`` run never terminates (and the timer-only
    batches keep resetting ``processAllAvailable``'s no-new-data latch)
    — ``start()`` therefore requires a processing-time trigger in TTL
    mode (a TTL'd dedup is a long-running ingest); batch-style drains
    poll the committed store, then ``stop()``."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        minhash: dict | None = None,
        domain_cap: dict | None = None,
        state_ttl_seconds: int | None = None,
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self._text = EpochStore(spark, store_dir)
        self._counts = QuotaFunnelStores(spark, store_dir, domain_cap)
        self.quota_dir = self._counts.quota.path
        self.funnel_dir = self._counts.funnel.path
        self.id_col = id_col
        self.text_col = text_col
        self.minhash = minhash
        self.domain_cap = domain_cap
        self.state_ttl_seconds = state_ttl_seconds

    # --- the streaming DAG ---------------------------------------------------

    def _banded(self, doc_stream: DataFrame) -> DataFrame:
        """Stateless front half: signature projection + band explode —
        one row per (doc, band_key), payload columns riding along."""
        mh = self.minhash or {}
        if self.minhash is None:
            # exact-only: no shingle work at all — text_hash IS the
            # whole signature (the IncrementalDedupPipeline contract)
            sigs = doc_stream.withColumn(
                "text_hash", F.md5(F.col(self.text_col))
            ).withColumn("sh_set", F.array().cast("array<long>"))
        else:
            sigs = row_signatures(
                doc_stream,
                self.id_col,
                self.text_col,
                k=int(mh.get("k", 16)),
                bands=int(mh.get("bands", 4)),
                shingle_n=int(mh.get("shingle_n", 3)),
                max_sh_set=mh.get("max_sh_set"),
            )
        # null texts share one exact band (sentinel): the parquet arm's
        # batch-first window groups null digests together the same way
        exact_band = F.array(
            F.concat(
                F.lit(_EXACT_PREFIX), F.coalesce(F.col("text_hash"), F.lit("∅"))
            )
        )
        all_bands = (
            exact_band
            if self.minhash is None
            else F.concat(exact_band, F.col("band_keys"))
        )
        return sigs.withColumn("band_key", F.explode(all_bands)).drop(
            "text_hash", "band_keys"
        )

    @property
    def _timeout_conf(self):
        return (
            GroupStateTimeout.ProcessingTimeTimeout
            if self.state_ttl_seconds is not None
            else GroupStateTimeout.NoTimeout
        )

    def verdict_stream(self, doc_stream: DataFrame) -> DataFrame:
        """doc rows -> per-band verdict rows (payload + ``__dropped``).
        Stateless signature projection, band explode, then ONE
        ``applyInPandasWithState`` keyed by band key."""
        mh = self.minhash or {}
        out_schema = StructType(
            list(doc_stream.schema) + [StructField("__dropped", BooleanType())]
        )
        fn = _band_verdicts(
            self.id_col,
            float(mh.get("threshold", 0.5)),
            mh.get("max_band_df", MINHASH_MAX_BAND_DF),
            mh.get("max_sh_set"),
            ttl_seconds=self.state_ttl_seconds,
        )
        return self._banded(doc_stream).groupBy("band_key").applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=self._timeout_conf,
        )

    # --- bulk state bootstrap ------------------------------------------------

    def bootstrap_state(
        self,
        corpus_df: DataFrame,
        checkpoint_dir: str,
        source_dir: str,
    ) -> int:
        """Onboard an EXISTING corpus onto the engine without replaying
        it doc-by-doc through the verify path: install the corpus's
        band membership into the streaming checkpoint's keyed state in
        one seed trigger, and write the corpus/quota/funnel stores as a
        batch base layer (``epoch=-1``, the ``compact()`` shape).

        Mechanics — why a (fast) trigger and not offline state files: a
        Structured Streaming checkpoint binds to its source, so state
        must be created BY a query over the production source path for
        the production query to adopt it. ``bootstrap_state`` therefore
        writes ``corpus_df`` as the first committed file set under
        ``source_dir`` and runs ONE ``availableNow`` query over
        ``source_dir + "/*"`` with the SEED operator (``_seed_state``:
        same band keys, same ``STATE_SCHEMA``, same df-cap/exact-band
        membership a replay would install — but no verify work, no
        payload columns through the shuffle, zero output rows). The
        production stream then starts on the same checkpoint over the
        same ``source_dir`` glob (projections upstream of a stateful
        operator may change across restarts; the grouping key and state
        schema — what Spark validates — are identical), sees the seed
        files as already processed, and picks up new files
        incrementally.

        PRECONDITIONS: ``checkpoint_dir`` must not exist (bootstrap
        creates it); ``source_dir`` must be empty or absent (files
        already present would be swallowed unverified into the seed);
        ``corpus_df`` must be internally deduped under this pipeline's
        config (e.g. a batch ``Curator`` output or another pipeline's
        ``committed()``) and carry unique ids — bootstrap installs
        membership verbatim, it does not re-dedup; with ``domain_cap``
        configured, every corpus doc counts against its domain's quota.
        Returns the corpus row count.

        TTL mode (``state_ttl_seconds`` set) is supported: the seed
        runs under the same ``ProcessingTimeTimeout`` the production
        query will use (Spark pins the timeout mode at first start), so
        it cannot use ``availableNow`` — the seed is driven by
        back-to-back processing-time batches and stopped once the
        corpus batch commits. Every bootstrapped band starts with a
        freshly-armed TTL clock.

        Scale shape: the seed is the same O(corpus) band shuffle the
        replay pays, minus the per-group verify/pandas/payload costs
        that dominated it — measured at the 2M-doc decade point in
        BASELINE.md §stream-decade. Set shuffle partitions BEFORE
        bootstrapping (the first start pins the state partition
        count).
        """
        if exists(self.spark, checkpoint_dir):
            raise ValueError(
                f"bootstrap_state needs a FRESH checkpoint; {checkpoint_dir!r} "
                "exists (an existing checkpoint already has band state — "
                "bootstrapping over it would double-install members)"
            )
        if list_dir(self.spark, source_dir):
            raise ValueError(
                f"bootstrap_state needs an empty source_dir; {source_dir!r} "
                "has entries (pre-existing files would enter band state "
                "UNVERIFIED through the seed path)"
            )
        seed_path = os.path.join(source_dir, "b-bootstrap")
        corpus_df.write.parquet(seed_path)
        n_docs = self.spark.read.parquet(seed_path).count()

        mh = self.minhash or {}
        stream = self.spark.readStream.schema(corpus_df.schema).parquet(
            os.path.join(source_dir, "*")
        )
        seeded = (
            self._banded(stream)
            .select(self.id_col, "sh_set", "band_key")
            .groupBy("band_key")
            .applyInPandasWithState(
                _seed_state(
                    self.id_col,
                    mh.get("max_band_df", MINHASH_MAX_BAND_DF),
                    ttl_seconds=self.state_ttl_seconds,
                ),
                outputStructType=f"{self.id_col} long",
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=self._timeout_conf,
            )
        )
        # noop sink still executes every group (state commits are a
        # side effect of draining the partition iterators)
        writer = seeded.writeStream.format("noop").option(
            "checkpointLocation", checkpoint_dir
        )
        if self.state_ttl_seconds is None:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            # ProcessingTimeTimeout (armed by a TTL) makes an
            # availableNow run never terminate — same physics as the
            # start() guard. Drive the seed with back-to-back batches,
            # wait for the seed rows' batch to COMMIT (progress events
            # are emitted post-commit), then stop. Timer-only batches
            # report numInputRows=0, so summing per-batch input counts
            # converges exactly on the corpus size. Progress is
            # accumulated by a listener, NOT by polling recentProgress
            # alone: recentProgress is a bounded ring
            # (numRecentProgressUpdates, default 100), so under fast
            # timer-only churn the seed batch's entry can be evicted
            # between polls and the wait would spin to the deadline.
            import time as _time

            listener = _ProgressAccumulator()
            self.spark.streams.addListener(listener)
            q = writer.trigger(processingTime="0 seconds").start()
            try:
                qid = str(q.id)
                seen: dict[int, int] = {}
                deadline = _time.time() + 3600
                while sum(seen.values()) < n_docs or not seen:
                    if q.exception() is not None:
                        raise q.exception()
                    seen.update(listener.by_query.get(qid, {}))
                    # belt-and-braces: fold the polled views too (the
                    # listener thread can lag the commit slightly)
                    for p in q.recentProgress:
                        seen[int(p["batchId"])] = int(p["numInputRows"])
                    last = q.lastProgress
                    if last is not None:
                        seen[int(last["batchId"])] = int(last["numInputRows"])
                    if seen and sum(seen.values()) >= n_docs:
                        break
                    if _time.time() > deadline:
                        raise RuntimeError(
                            "bootstrap_state seed batch did not commit "
                            "within 3600 s"
                        )
                    _time.sleep(0.2)
            finally:
                # removeListener must run even if stop() throws (py4j /
                # stream-teardown errors are routine): the accumulator
                # is deliberately unbounded, so a leaked registration
                # would grow with every later query in the session
                try:
                    q.stop()
                finally:
                    self.spark.streams.removeListener(listener)
            q.awaitTermination()

        # batch base layer for the downstream stores (the compact()
        # shape — never collides with a checkpoint epoch, and the
        # replay-safety ``epoch != current`` filter never excludes it)
        self._text.write(corpus_df, BASE_EPOCH)
        counts = [("input", n_docs), ("dedup", n_docs)]
        if self.domain_cap is not None:
            counts.append(("domain_cap", n_docs))
        self._counts.write(BASE_EPOCH, counts, corpus_df)
        return n_docs

    def commit_batch(self, verdicts: DataFrame, epoch_id: int) -> None:
        """foreachBatch half: fold per-band verdicts to per-doc (drop if
        ANY band dropped it), apply the shared quota, write the text /
        quota / funnel stores per-epoch. Every relation here is
        batch-sized."""
        verdicts = verdicts.localCheckpoint(eager=True)
        if self.state_ttl_seconds is not None and not verdicts.take(1):
            # timer-only batch (TTL mode runs one every trigger, data
            # or not): nothing to commit — skipping keeps an idle
            # stream from littering empty epoch partitions. Non-TTL
            # mode still records input=0 epochs so funnel-based audits
            # see every data batch the trigger actually ran.
            return
        per_doc = (
            verdicts.groupBy(self.id_col)
            .agg(
                F.max("__dropped").alias("__dropped"),
                *[
                    F.first(c).alias(c)
                    for c in verdicts.columns
                    if c not in (self.id_col, "__dropped")
                ],
            )
        ).localCheckpoint(eager=True)
        counts = [("input", per_doc.count())]
        kept = per_doc.filter(~F.col("__dropped")).drop("__dropped")
        counts.append(("dedup", kept.count()))
        if self.domain_cap is not None:
            kept = apply_domain_quota(
                kept,
                self._counts.prior_quota(exclude_epoch=epoch_id),
                self.domain_cap,
                self.id_col,
            ).localCheckpoint(eager=True)
            counts.append(("domain_cap", kept.count()))
        self._text.write(kept, epoch_id)
        self._counts.write(epoch_id, counts, kept)

    def start(
        self,
        doc_stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
    ):
        if self.state_ttl_seconds is not None and trigger_seconds is None:
            raise ValueError(
                "state_ttl_seconds needs a processing-time trigger "
                "(trigger_seconds=0 for back-to-back batches): with "
                "ProcessingTimeTimeout armed the operator always reports "
                "another batch may be needed, so an availableNow run never "
                "terminates — poll the committed store, then stop(). "
                "Drain patterns and the TTL-free-twin catch-up recipe: "
                "ARCHITECTURE.md §'TTL x drains (lifecycle constraint)'"
            )
        _preflight_state_schema(self.spark, checkpoint_dir)
        writer = (
            self.verdict_stream(doc_stream)
            .writeStream.foreachBatch(self.commit_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    # --- reads / maintenance -------------------------------------------------

    def committed(self) -> DataFrame:
        """The deduped corpus so far (full input schema)."""
        return self.spark.read.parquet(self.store_dir).drop("epoch")

    def funnel(self) -> DataFrame:
        """(epoch, stage, n_docs) counters. Non-TTL mode records every
        data batch the trigger ran, including input=0 ones; TTL mode
        SKIPS empty (timer-only) batches — it runs one per trigger
        whether data arrived or not, so recording them would litter one
        empty epoch partition per trigger interval (see
        ``commit_batch``). Funnel-based audits in TTL mode therefore
        see only epochs that carried data."""
        return self.spark.read.parquet(self.funnel_dir)

    def compact(self, target_partitions: int | None = None) -> int:
        """Fold the text/quota/funnel epoch partitions into one base
        partition each (``epoch=-1``; run while the stream is STOPPED —
        the ``IncrementalDedupPipeline.compact`` contract). Band state
        needs NO compaction: RocksDB/HDFS state files are maintained by
        the streaming checkpoint itself. ``target_partitions=None``
        auto-sizes the folded text store (``storeutil.ROWS_PER_FILE``)
        so later scans keep their parallelism at any corpus size."""
        n_docs = self._text.compact(partitions=target_partitions)
        self._counts.compact()
        return n_docs
