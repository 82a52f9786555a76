"""Regenerate the committed trained-classifier artifact.

Trains the hashed quality classifier IN-ENGINE (MLlib
LogisticRegression over the deterministic labeled fixture,
operators/text.py::train_hashed_classifier), fix-point quantizes the
coefficients (round(1000·w) — the scorer's exact-int64 contract), and
rewrites ``sentiment_analysis_data_engineering_spark/operators/clf_model.py``
with the weight vector plus training provenance. The artifact is
committed — the model is trained offline ONCE and ships as a plan
constant (how production quality filters deploy: training is a
bounded offline job, inference a scan-speed projection), so the
driver's hash gate sees a stable model while this tool keeps it
reproducible from source.

Evaluation is HELD-OUT (r9 verdict item 5): the fixture splits
deterministically on ``pmod(xxhash64(doc_id), 5)`` — ~80% fits the
model, the ~20% the fit never saw reports precision / recall /
accuracy at the accept threshold (score > 0). Train-set sign-accuracy
is kept alongside for the generalization-gap read. The SHIPPED
weights are the 80%-fit weights, so the held-out numbers describe
exactly the model that deploys.

Usage: python tools/train_classifier.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(
    ROOT,
    "sentiment_analysis_data_engineering_spark", "operators", "clf_model.py",
)

TEMPLATE = '''"""Trained hashed-classifier weights — GENERATED, do not edit.

Regenerated by ``tools/train_classifier.py``: MLlib LogisticRegression
(maxIter={max_iter}, regParam={reg_param}, standardization=False) over
the TRAIN split of the deterministic labeled fixture
(``fixtures.py::labeled_quality_docs``, {n_train} of {n_docs} docs —
pmod(xxhash64(doc_id), 5) != 0), features = hashed bag-of-words counts
under the SAME tokenizer + 31-polynomial feature hash the inference
expressions use, then fix-point quantized ``round(1000*w)`` so scoring
stays exact int64
(``operators/text.py::hashed_classifier_score_learned``).

Training provenance: {n_nonzero} non-zero weights of {n_features};
train-split sign-accuracy (score>0 vs label) {accuracy:.3f}; HELD-OUT
({n_heldout} docs the fit never saw) accuracy {ho_accuracy:.3f},
precision {ho_precision:.3f}, recall {ho_recall:.3f} at the accept
threshold score>0; intercept {intercept:.6f} (not shipped — the int64
scorer is intercept-free, threshold absorbed by the accept cut).
"""

N_FEATURES = {n_features}

TRAIN_ACCURACY = {accuracy!r}

HELDOUT_ACCURACY = {ho_accuracy!r}

HELDOUT_PRECISION = {ho_precision!r}

HELDOUT_RECALL = {ho_recall!r}

TRAINED_WEIGHTS = {weights!r}
'''


def heldout_split(docs):
    """(train, heldout) — the deterministic ~80/20 id-hash split the
    committed provenance and the pytest floor law both replay."""
    from pyspark.sql import functions as F

    keep = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(5)) != 0
    return docs.filter(keep), docs.filter(~keep)


def main() -> None:
    from sentiment_analysis_data_engineering_spark.session import get_spark
    from sentiment_analysis_data_engineering_spark import fixtures as fx
    from sentiment_analysis_data_engineering_spark.operators import text as tx

    spark = get_spark("train_classifier")
    docs = fx.labeled_quality_docs(spark)
    n_docs = docs.count()
    train, heldout = heldout_split(docs)
    n_train, n_heldout = train.count(), heldout.count()
    model = tx.train_hashed_classifier(train, "text", "label")
    w = model["weights"]

    from pyspark.sql import functions as F

    def metrics(split):
        r = split.select(
            "label",
            (tx.hashed_classifier_score_learned("text", w) > 0).alias("pos"),
        ).agg(
            F.avg(
                (F.col("pos") == (F.col("label") == 1)).cast("double")
            ).alias("acc"),
            F.sum((F.col("pos") & (F.col("label") == 1)).cast("long")).alias("tp"),
            F.sum(F.col("pos").cast("long")).alias("pp"),
            F.sum((F.col("label") == 1).cast("long")).alias("ap"),
        ).first()
        precision = r.tp / r.pp if r.pp else 0.0
        recall = r.tp / r.ap if r.ap else 0.0
        return r.acc, precision, recall

    acc, _, _ = metrics(train)
    ho_acc, ho_prec, ho_rec = metrics(heldout)
    body = TEMPLATE.format(
        max_iter=100,
        reg_param=0.01,
        n_docs=n_docs,
        n_train=n_train,
        n_heldout=n_heldout,
        n_features=len(w),
        n_nonzero=sum(1 for x in w if x),
        accuracy=acc,
        ho_accuracy=round(ho_acc, 6),
        ho_precision=round(ho_prec, 6),
        ho_recall=round(ho_rec, 6),
        intercept=model["intercept"],
        weights=w,
    )
    with open(os.path.abspath(OUT), "w") as f:
        f.write(body)
    print(
        f"wrote {OUT}: {sum(1 for x in w if x)} nonzero / {len(w)} weights,"
        f" train acc {acc:.3f}; held-out acc {ho_acc:.3f}"
        f" precision {ho_prec:.3f} recall {ho_rec:.3f} ({n_heldout} docs)"
    )


if __name__ == "__main__":
    main()
