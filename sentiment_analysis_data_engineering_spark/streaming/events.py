"""Structured Streaming maintenance of a persisted IVF-PQ index
(extension layer — SURVEY.md §2.9: the reference has no streams; its
incremental-batch semantics map to ``Trigger.AvailableNow`` runs).

Event-time windows and SCD2 run as batch queries over the events and
customer tables (``window_tumbling_daily``, ``window_sliding_6h``,
``scd2_customer_history``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["run_ivfpq_merge_stream"]


def run_ivfpq_merge_stream(
    stream_df: DataFrame,
    index_path: str,
    *,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    auto_compact_max_files: int | None = None,
    auto_retrain_drift_ratio: float | None = None,
    retrain_corpus: DataFrame | None = None,
    audit_every_rows: int = 1,
    audit_sample_mod: int | None = None,
    retrain_train_rows: int = 256,
) -> list[dict]:
    """Streaming maintenance of a PERSISTED IVF-PQ index: each
    micro-batch of new vectors merges into the index under the frozen
    model (operators/similarity.py::ivfpq_merge_index) — the
    continuous-ingest form of the batch merge, the way a production
    embedding pipeline keeps its ANN index current as documents land.

    Replay safety — the part that matters: foreachBatch is
    at-least-once, and a naive append would duplicate index rows on
    every retry. No batch-id bookkeeping is needed here because the
    merge itself is INSERT-IDEMPOTENT: the id anti-join (pruned to the
    batch's cell partitions) makes a replayed or overlapping batch add
    exactly the rows the index does not already hold — the
    exactly-once effect from operator algebra instead of transactions.

    AUTO-COMPACTION (``auto_compact_max_files``): every merge appends
    one file to each cell its batch touches, so probe IO per cell
    grows with merge count until compacted. With a threshold set, the
    maintainer checks fragmentation after each merge via the
    zero-data-read metadata listing
    (operators/similarity.py::ivfpq_cell_file_counts) and runs
    ``ivfpq_compact_index`` when any cell reaches the threshold —
    hands-free index maintenance, bounding worst-case probe file
    count at ``auto_compact_max_files`` forever. The trigger runs
    INSIDE foreachBatch, so it inherits the stream's serialization —
    the single-writer rule (never compact concurrently with a merge)
    holds by construction. Compaction is idempotent and the merge is
    insert-idempotent, so a crash between merge and compact replays
    safely: the re-delivered batch adds nothing and the trigger
    re-fires on the still-fragmented layout.

    AUTO-RETRAIN (``auto_retrain_drift_ratio``): auto-compaction keeps
    the LAYOUT healthy; this keeps the MODEL healthy — the
    retrain-cadence loop that `ann_index_retrain_cycle` proves pays
    for itself, wired into the maintainer so it runs hands-free. At
    arm time the maintainer audits the whole index against
    ``retrain_corpus`` (operators/similarity.py::ivfpq_drift_audit)
    and remembers the mean reconstruction error as the BASELINE — how
    well the frozen model serves what it already holds. Then, after
    every ``audit_every_rows`` merged rows, it audits the JUST-MERGED
    BATCH (``scope="corpus"`` — one narrow index scan + a batch-sized
    decode, never a corpus join, so the per-batch check is priced for
    a stream) and — when the batch's mean exceeds
    ``auto_retrain_drift_ratio`` × the baseline, compared by exact
    integer cross-multiplication of the audits' int64 error sums (the
    float knob is snapped to a rational via
    ``Fraction.limit_denominator``; no float mean is ever formed) —
    REBUILDS the index in place (``ivfpq_write_index``, same model
    shape; ``retrain_train_rows`` sets the rebuild's bounded
    fit-sample size) from the corpus rows the index currently holds (a
    semi-join
    of ``retrain_corpus`` on the live ids — retrain preserves
    membership by construction, pinned eagerly so no read of the codes
    remains when the overwrite lands), then re-audits the whole index
    to establish the new baseline. Auditing the BATCH is the sharp
    trigger: drift arrives with new data, and a full-index mean
    dilutes an out-of-distribution batch by corpus/batch (measured
    1.005× overall vs 3-9× batch-scoped on the same injected drift).
    ``audit_sample_mod`` samples both the baseline and batch audits to
    the same deterministic ~1/mod id subset — baseline and batch
    ratios compare like with like, at 1/mod the scan; a batch the
    sample misses entirely falls back to an exact batch audit
    (``audit_sample_fallback`` in its stats row) so small batches
    cannot silently no-op the trigger. Arming FAILS LOUDLY when the
    baseline audit matches zero vectors (a corpus that explains no
    index row, or a sample_mod that empties the index sample) — a
    zero baseline would make the cross-multiplied trigger 0 > 0
    forever, drift detection dead with no visible symptom.
    ``retrain_corpus``
    must be the index's corpus of record (it is re-read at each
    audit/retrain, so a view over the landing table stays current).
    The rebuild is STAGED and atomically swapped
    (``ivfpq_write_index`` over a live index writes all three
    artifacts to ``_rebuild_staging`` and commits them by rename — the
    old model keeps serving until the swap, and recovery rolls an
    interrupted swap back wholesale), and it runs inside foreachBatch,
    so the single-writer rule holds by construction, exactly like
    compaction.

    Returns the per-batch merge stats (batch_id, n_batch, n_added,
    n_already, n_id_conflicts, plus max_files_per_cell /
    n_cells_compacted / n_rows_rewritten when auto-compaction is
    armed, plus audit_checked / drift_fired / retrained /
    audit_sum_qerr_micro / audit_n_vectors / baseline_sum_qerr_micro /
    baseline_n_vectors / n_retrain_members when auto-retrain is armed)
    so callers can audit what the stream did."""
    from fractions import Fraction

    from ..operators.similarity import (
        CODES_SCHEMA,
        ivfpq_cell_file_counts,
        ivfpq_compact_index,
        ivfpq_drift_audit,
        ivfpq_merge_index,
        ivfpq_read_model,
        ivfpq_write_index,
    )
    from ..sources.io import scan

    stats: list[dict] = []

    armed = auto_retrain_drift_ratio is not None
    if armed and retrain_corpus is None:
        raise ValueError(
            "auto_retrain_drift_ratio requires retrain_corpus — the drift "
            "audit needs the corpus of record to reconstruct against"
        )
    ratio = (
        Fraction(auto_retrain_drift_ratio).limit_denominator(10**6)
        if armed
        else None
    )

    def audit_qerr(spark, corpus, scope, *, sample_mod=...) -> tuple[int, int]:
        """(sum_qerr_micro, n_vectors) over the corpus-matched rows —
        exact int64 sums; the __unaudited__ orphan segment (ids the
        corpus no longer explains) is excluded from the mean.
        ``sample_mod`` defaults to the stream's ``audit_sample_mod``;
        pass ``None`` explicitly for an exact audit (the small-batch
        fallback below)."""
        rows = {
            r.segment: r
            for r in ivfpq_drift_audit(
                spark, index_path, corpus,
                vec_col=vec_col, id_col=id_col,
                sample_mod=(
                    audit_sample_mod if sample_mod is ... else sample_mod
                ),
                scope=scope,
            ).collect()  # ≤ 2 bounded rows
        }
        hit = rows.get("all")
        return (
            (hit.sum_qerr_micro, hit.n_vectors) if hit is not None else (0, 0)
        )

    state = {"rows_since_audit": 0, "baseline": None}
    if armed:
        spark0 = stream_df.sparkSession
        state["baseline"] = audit_qerr(spark0, retrain_corpus, "index")
        if state["baseline"][1] == 0:
            # A zero-vector baseline makes the cross-multiplied trigger
            # 0 > 0 forever — drift detection would be silently dead
            # and the baseline never refreshes (it only recomputes
            # after a retrain the dead trigger can never fire). Either
            # retrain_corpus explains no index row, or audit_sample_mod
            # sampled the index to nothing — both are arming mistakes;
            # fail at arm time, mirroring the retrain_corpus None check.
            raise ValueError(
                "auto-retrain baseline audit matched ZERO index vectors — "
                "retrain_corpus must be the index's corpus of record"
                + (
                    f" and audit_sample_mod={audit_sample_mod} must leave a "
                    "non-empty index sample"
                    if audit_sample_mod is not None
                    else ""
                )
            )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        s = ivfpq_merge_index(
            spark, index_path, batch_df, vec_col=vec_col, id_col=id_col
        )
        if auto_compact_max_files is not None:
            frag = ivfpq_cell_file_counts(spark, index_path)
            worst = max(frag.values(), default=0)
            s["max_files_per_cell"] = worst
            if worst >= auto_compact_max_files:
                s.update(ivfpq_compact_index(spark, index_path))
            else:
                s.update({"n_cells_compacted": 0, "n_rows_rewritten": 0})
        if armed:
            state["rows_since_audit"] += s["n_added"]
            s.update(
                {"audit_checked": False, "drift_fired": False,
                 "retrained": False}
            )
            base_sum, base_n = state["baseline"]
            if state["rows_since_audit"] >= audit_every_rows:
                state["rows_since_audit"] = 0
                # audit the BATCH, not the corpus: the sharp, cheap
                # trigger (see docstring)
                cur_sum, cur_n = audit_qerr(spark, batch_df, "corpus")
                fallback = False
                if audit_sample_mod is not None and cur_n == 0:
                    # Small-batch escape hatch: a batch whose ids all
                    # hash outside the 1/mod sample would audit as
                    # (0, 0) and the cur_n > 0 guard would make the
                    # check a silent no-op — drift arriving in small
                    # batches could never fire despite
                    # audit_checked=True. Fall back to an EXACT audit
                    # of this batch (batch-sized decode — affordable by
                    # definition when the sample missed everything);
                    # its mean compares against the sampled baseline
                    # mean, which estimates the same exact quantity.
                    cur_sum, cur_n = audit_qerr(
                        spark, batch_df, "corpus", sample_mod=None
                    )
                    fallback = True
                s.update(
                    {
                        "audit_checked": True,
                        "audit_sum_qerr_micro": cur_sum,
                        "audit_n_vectors": cur_n,
                        "baseline_sum_qerr_micro": base_sum,
                        "baseline_n_vectors": base_n,
                        **(
                            {"audit_sample_fallback": True}
                            if fallback
                            else {}
                        ),
                    }
                )
                # cur_sum/cur_n > ratio * base_sum/base_n, cross-multiplied
                fired = (
                    cur_n > 0
                    and cur_sum * base_n * ratio.denominator
                    > base_sum * cur_n * ratio.numerator
                )
                s["drift_fired"] = bool(fired)
                if fired:
                    meta = ivfpq_read_model(spark, index_path)[2]
                    held = scan(
                        spark, f"{index_path}/codes", schema=CODES_SCHEMA
                    ).select("neighbor_id")
                    # membership-preserving rebuild: corpus rows the
                    # index currently holds, pinned so the overwrite
                    # never races its own input scan
                    members = (
                        retrain_corpus.join(
                            held,
                            retrain_corpus[id_col] == held["neighbor_id"],
                            "left_semi",
                        ).localCheckpoint(eager=True)
                    )
                    rebuilt = ivfpq_write_index(
                        members, index_path,
                        vec_col=vec_col, id_col=id_col,
                        n_cells=meta["n_cells"], m=meta["m"],
                        n_codes=meta["n_codes"],
                        train_rows=retrain_train_rows,
                    )
                    members.unpersist()
                    s["retrained"] = True
                    s["n_retrain_members"] = rebuilt["n_indexed"]
                    # new reference: full-index audit under the fresh model
                    state["baseline"] = audit_qerr(
                        spark, retrain_corpus, "index"
                    )
        stats.append({"batch_id": batch_id, **s})

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats
