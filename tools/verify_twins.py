"""Twins replica — bit-match every anchored streaming-twin readout
against its batch anchor query at an arbitrary scale point.

The registry replica (tools/verify_oracle.py) is the hard gate for
the 325 batch queries, but streaming READOUTS are not registered
queries: their parity proof otherwise lives only in pytest at
sf0.001. This tool re-runs the fold-parity contract — deliver the
twin's source frame in three epochs (deterministic xxhash64 row
split, so every ledger grain accumulates ACROSS epochs), read out,
and compare row-for-row against the batch anchor query on the same
sf_dir — at whatever scale the caller picks:

    python tools/verify_twins.py                      # sf0.01
    python tools/verify_twins.py /root/testdata/sf0.1
    python tools/verify_twins.py /root/testdata/sf0.01 mk anova

The twin list is streaming.twins.all_twins(): every readout declared
with an anchor query is checked, and every readout without one is
printed as NOANCHOR with its reason (twins.NO_ANCHOR). Four contracts
run apart: psi (frozen mid-split baseline), dq (direct-count parity on
every stream rule + shared-rule match with dq_violation_counts),
posting (anchor rows verbatim-contained in the maintained index), and
novelty (ascending doc_id tercile epochs — the contract is
order-dependent). Out of scope, pytest-covered: bloom (filter bitsets)
and lww (time-travel over hand-built CDC epochs).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _rows(df):
    return sorted(map(repr, (tuple(r) for r in df.collect())))


N_EPOCHS = 3


def _fold(spark, update, frame, store):
    """Deliver the frame through `update` in N_EPOCHS deterministic
    xxhash64 row splits, so every ledger grain (day, week, term, QI
    class, ...) accumulates ACROSS epochs — the property the fold must
    get right."""
    tagged = frame.withColumn(
        "_ep", F.abs(F.xxhash64(*frame.columns)) % N_EPOCHS
    )
    for k in range(N_EPOCHS):
        update(spark, tagged.where(F.col("_ep") == k).drop("_ep"), store, k)


def _documents(spark, sf):
    from open_pulsar_spark.tables import load_table

    return load_table(spark, sf, "documents")


def run_psi(spark, sf_dir, workdir):
    """psi is the one non-uniform spec: the batch events_value_psi
    self-baselines on the mid-timestamp split, so the twin freezes
    the first half and folds the second."""
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.psi_stream import (
        PSI,
        freeze_baseline,
        psi_readout,
    )

    ev = PSI.source_frame(spark, sf_dir).select("ts", "value")
    piv = ev.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2")
    ).first()[0]
    baseline = f"{workdir}/psi_baseline"
    store = f"{workdir}/psi_store"
    freeze_baseline(spark, ev.where(F.expr(f"unix_micros(ts) < {piv}")), baseline)
    _fold(
        spark, PSI.update, ev.where(F.expr(f"unix_micros(ts) >= {piv}")), store
    )
    got = _rows(psi_readout(spark, baseline, store))
    want = _rows(all_queries()["events_value_psi"](spark, sf_dir))
    return got == want and bool(want), len(want)


def run_dq(spark, sf_dir, workdir):
    """dq's contract is two-part: the folded ledger equals direct
    conditional counts over the whole table for EVERY stream rule,
    and the rules shared with the batch suite match
    dq_violation_counts' documents rows."""
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.dq_stream import (
        DQ,
        DQ_STREAM_RULES,
        read_dq,
    )

    docs = _documents(spark, sf_dir)
    store = f"{workdir}/dq_store"
    _fold(spark, DQ.update, docs, store)
    got = {t[0]: (t[1], t[2]) for t in map(tuple, read_dq(spark, store).collect())}
    n_docs = docs.count()
    want = {
        name: (docs.where(F.expr(pred)).count(), n_docs)
        for name, pred in DQ_STREAM_RULES
    }
    ok = got == want and bool(want)
    batch = {
        r.rule: (r.n_violations, r.n_checked)
        for r in all_queries()["dq_violation_counts"](spark, sf_dir).collect()
        if r.rule.startswith("documents_")
    }
    for shared in ("documents_short_text", "documents_nchars_mismatch"):
        ok = ok and got.get(shared) == batch.get(shared)
    return ok, len(want)


def run_posting(spark, sf_dir, workdir):
    """posting's contract: the stream store maintains ALL terms; the
    batch term_posting_index emits a subset — every anchor
    (term, posting_sample) row must appear VERBATIM in the fold."""
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.posting_stream import (
        read_postings,
        update_postings,
    )

    docs = _documents(spark, sf_dir)
    store = f"{workdir}/posting_store"
    _fold(spark, update_postings, docs, store)
    merged = {
        (r.term, r.posting_sample)
        for r in read_postings(spark, store).collect()
    }
    want = {
        (r.term, r.posting_sample)
        for r in all_queries()["term_posting_index"](spark, sf_dir)
        .select("term", "posting_sample")
        .collect()
    }
    return bool(want) and want <= merged, len(want)


def run_novelty(spark, sf_dir, workdir):
    """novelty's contract is ORDER-dependent (first-seen shingle
    ownership = corpus-order min doc_id), so the epochs are ascending
    doc_id terciles, not hash splits; the union of the per-epoch
    outputs must equal doc_ngram_novelty over the whole corpus."""
    from open_pulsar_spark.registry import all_queries
    from open_pulsar_spark.streaming.novelty_stream import novelty_batch_step

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    lo, hi = docs.selectExpr(
        "percentile(doc_id, 0.34)", "percentile(doc_id, 0.67)"
    ).first()
    index, out = f"{workdir}/novelty_index", f"{workdir}/novelty_out"
    got = []
    for k, pred in enumerate(
        (
            F.col("doc_id") <= lo,
            (F.col("doc_id") > lo) & (F.col("doc_id") <= hi),
            F.col("doc_id") > hi,
        )
    ):
        step = novelty_batch_step(spark, docs.where(pred), index, out, k)
        got += [
            (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
            for r in step.collect()
        ]
    want = sorted(
        (r.doc_id, r.n_shingles, r.n_novel, r.novelty)
        for r in all_queries()["doc_ngram_novelty"](spark, sf_dir).collect()
    )
    return bool(want) and sorted(got) == want, len(want)


_SPECIAL = {
    "psi": (run_psi, "psi_readout vs events_value_psi"),
    "dq": (run_dq, "read_dq vs direct counts + dq_violation_counts"),
    "posting": (run_posting, "read_postings ⊇ term_posting_index"),
    "novelty": (run_novelty, "ordered epochs vs doc_ngram_novelty"),
}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    from pyspark.sql import SparkSession

    from open_pulsar_spark.streaming.twins import NO_ANCHOR, all_twins

    spark = (
        SparkSession.builder.appName("verify-twins")
        .master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    workdir = tempfile.mkdtemp(prefix="verify_twins_")

    for name, twin in sorted(all_twins().items()):
        if only and name not in only:
            continue
        anchored = [ro for ro in twin.readouts if ro.anchor]
        for ro in twin.readouts:
            if not ro.anchor:
                print(f"NOANCHOR {name}.{ro.name}: {NO_ANCHOR[f'{name}.{ro.name}']}")
        if not anchored:
            continue
        t0 = time.time()
        try:
            store = f"{workdir}/{name}"
            _fold(spark, twin.update, twin.source_frame(spark, sf_dir), store)
            for ro in anchored:
                got = _rows(ro.fn(spark, store))
                want = _rows(ro.anchor_rows(spark, sf_dir))
                ok = got == want and bool(want)
                failures += 0 if ok else 1
                print(
                    f"{'PASS' if ok else 'FAIL'} {name}.{ro.name} vs {ro.anchor}"
                    f" rows={len(want)} sec={time.time() - t0:.2f}"
                )
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"FAIL {name} ERROR {str(e)[:300]}")

    for twin, (runner, label) in sorted(_SPECIAL.items()):
        if only and twin not in only:
            continue
        t0 = time.time()
        try:
            ok, n = runner(spark, sf_dir, workdir)
            failures += 0 if ok else 1
            print(
                f"{'PASS' if ok else 'FAIL'} {twin}: {label}"
                f" rows={n} sec={time.time() - t0:.2f}"
            )
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"FAIL {twin} ERROR {str(e)[:300]}")

    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
