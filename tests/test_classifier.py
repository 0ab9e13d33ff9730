"""Model-based quality filtering (operators/classifier.py): fixed-order
linear scoring vs a numpy model, threshold decisions, the pyspark.ml
training path round-tripping into score_linear, and the quality_score
feature composition."""

import math

import numpy as np
import pytest

from littletable_spark import Table, plan_shape
from littletable_spark.operators.classifier import (
    filter_by_classifier,
    score_linear,
    train_quality_classifier,
)

_W = {"f_a": 0.5, "f_b": -1.25, "f_c": 2.0}
_B = -0.75


def _feats(spark, rows):
    t = Table("clf", spark=spark)
    t.insert_many(
        [
            {"rid": i, "f_a": a, "f_b": b, "f_c": c}
            for i, (a, b, c) in enumerate(rows)
        ]
    )
    return t


def test_score_linear_matches_numpy(spark):
    rows = [(1.0, 2.0, 0.5), (0.0, 0.0, 0.0), (-3.0, 1.5, 2.25)]
    t = _feats(spark, rows)
    got = {
        r.rid: (r.logit, r.prob, r.keep)
        for r in score_linear(
            t, _W, _B, prob_col="prob", decision_col="keep", threshold=0.1
        )
    }
    X = np.array(rows)
    w = np.array([_W["f_a"], _W["f_b"], _W["f_c"]])
    for i in range(len(rows)):
        z = _B + float(X[i] @ w)
        assert got[i][0] == pytest.approx(z, abs=1e-12)
        assert got[i][1] == pytest.approx(1.0 / (1.0 + math.exp(-z)), abs=1e-12)
        assert got[i][2] == (1 if z > 0.1 else 0)


def test_filter_by_classifier_prunes_and_validates(spark):
    t = _feats(spark, [(1.0, 0.0, 1.0), (0.0, 2.0, 0.0), (2.0, 0.0, 2.0)])
    kept = filter_by_classifier(t, _W, _B, threshold=0.0)
    # logits: 0.5-0.75+2 = 1.75 ; -2.5-0.75 = -3.25 ; 1-0.75+4 = 4.25
    assert sorted(r.rid for r in kept) == [0, 2]
    assert kept.fields == t.fields  # predicate only, no added columns

    with pytest.raises(ValueError, match="not in table"):
        score_linear(t, {"nope": 1.0})
    with pytest.raises(ValueError, match="empty"):
        filter_by_classifier(t, {})


def test_train_round_trips_into_score_linear(spark):
    """The returned plain dict reproduces pyspark.ml's own decision
    function: score_linear(weights, intercept) equals the model's
    logit, so the trained model deploys as a pure-JVM projection."""
    rng = np.random.RandomState(7)
    pos = rng.normal(loc=[2.0, 2.0], scale=0.6, size=(60, 2))
    neg = rng.normal(loc=[-2.0, -2.0], scale=0.6, size=(60, 2))
    t = Table("train", spark=spark)
    t.insert_many(
        [
            {"rid": i, "f_a": float(x), "f_b": float(y), "label": lab}
            for i, (x, y, lab) in enumerate(
                [(x, y, 1) for x, y in pos] + [(x, y, 0) for x, y in neg]
            )
        ]
    )
    model = train_quality_classifier(t, ["f_a", "f_b"], "label")
    assert model["n_rows"] == 120
    assert model["train_accuracy"] >= 0.95
    assert model["train_auc"] >= 0.95

    scored = score_linear(
        t, model["weights"], model["intercept"],
        decision_col="keep", threshold=0.0,
    )
    by_rid = {r.rid: r for r in scored}
    # separable data, wide margin: the thresholded logit recovers the
    # labels (this is the accuracy claim, re-checked through the
    # deployment path rather than pyspark.ml's summary)
    agree = sum(
        1 for r in by_rid.values()
        if r.keep == (1 if r.rid < 60 else 0)
    )
    assert agree >= 114  # >= 95% through score_linear too


def test_train_drops_null_feature_rows(spark):
    t = Table("nulls", spark=spark)
    t.insert_many(
        [{"f_a": 1.0, "f_b": 1.0, "label": 1}] * 5
        + [{"f_a": -1.0, "f_b": -1.0, "label": 0}] * 5
        + [{"f_a": None, "f_b": 0.0, "label": 1}]
    )
    model = train_quality_classifier(t, ["f_a", "f_b"], "label")
    assert model["n_rows"] == 10


def test_quality_feature_composition(spark):
    """The intended pipeline: quality_score's feature columns feed the
    classifier directly; a crude hand model separates empty-ish docs
    from real prose."""
    from littletable_spark.operators.textops import quality_score

    t = Table("docs", spark=spark)
    t.insert_many(
        [
            {"doc_id": 0, "text": "the cat sat on the mat and it was good"},
            {"doc_id": 1, "text": "x"},
            {"doc_id": 2, "text": "!!! ??? ... ;;; :::"},
        ]
    )
    feats = quality_score(t, "text", "doc_id")
    kept = filter_by_classifier(
        feats,
        {"n_tokens": 0.2, "punct_ratio": -6.0},
        intercept=-1.0,
        threshold=0.0,
    )
    assert [r.doc_id for r in kept] == [0]


# ------------------------------------------------------------------ #
# hashed bag-of-words text classifier                                 #
# ------------------------------------------------------------------ #

_GOOD_WORDS = "insight analysis careful thorough evidence clear structured".split()
_SPAM_WORDS = "buy click free winner cash prize urgent".split()


def _text_corpus(spark, n_per_class=40):
    rng = np.random.RandomState(11)
    rows = []
    for i in range(n_per_class):
        rows.append(
            {
                "doc_id": i,
                "text": " ".join(rng.choice(_GOOD_WORDS, 8)),
                "label": 1,
            }
        )
        rows.append(
            {
                "doc_id": n_per_class + i,
                "text": " ".join(rng.choice(_SPAM_WORDS, 8)),
                "label": 0,
            }
        )
    t = Table("txt", spark=spark)
    t.insert_many(rows)
    return t, n_per_class


def test_text_classifier_trains_and_deploys_jvm_side(spark):
    from littletable_spark.operators.classifier import (
        score_text_classifier,
        train_text_classifier,
    )

    t, n = _text_corpus(spark)
    model = train_text_classifier(t, "text", "label", n_features=1 << 12)
    # self-describing one-table layout: exactly one NULL-idx scalar row
    scalars = model.df.where("feature_idx IS NULL").collect()
    assert len(scalars) == 1 and scalars[0]["n_features"] == 1 << 12

    scored = score_text_classifier(
        t, model, "text", "doc_id", decision_col="keep"
    )
    rows = {r.doc_id: r for r in scored}
    agree = sum(1 for r in rows.values() if r.keep == (1 if r.doc_id < n else 0))
    assert agree >= int(0.95 * 2 * n)

    # the scoring plan never leaves the JVM: no Python eval of any kind
    shape = plan_shape(scored.df)
    assert not [
        op for op in shape if "Python" in op or "MapInPandas" in op
    ], shape


def test_text_classifier_model_is_a_durable_asset(spark, tmp_path):
    """parquet round-trip scores identically; unseen-vocabulary and
    empty documents score the bare intercept."""
    from littletable_spark.operators.classifier import (
        score_text_classifier,
        train_text_classifier,
    )

    t, _ = _text_corpus(spark, n_per_class=15)
    model = train_text_classifier(t, "text", "label", n_features=1 << 12)
    p = str(tmp_path / "clf")
    model.df.write.parquet(p)
    stored = Table.parquet_import(spark, p)

    probe = Table("probe", spark=spark)
    probe.insert_many(
        [
            {"doc_id": 0, "text": "insight evidence clear"},
            {"doc_id": 1, "text": "zzzunseen qqqnovel xxxwords"},
            {"doc_id": 2, "text": "   "},
        ]
    )
    a = {r.doc_id: r.logit for r in score_text_classifier(probe, model, "text", "doc_id")}
    b = {r.doc_id: r.logit for r in score_text_classifier(probe, stored, "text", "doc_id")}
    assert a == b and len(a) == 3
    intercept = model.df.where("feature_idx IS NULL").collect()[0]["weight"]
    # unseen tokens CAN collide into trained buckets (the hashing
    # trick's price); the token-less doc is exactly the intercept
    assert a[2] == pytest.approx(intercept, abs=1e-12)
    assert a[0] != a[2]


def test_text_classifier_validates_model_table(spark):
    from littletable_spark.operators.classifier import score_text_classifier

    t, _ = _text_corpus(spark, n_per_class=3)
    with pytest.raises(ValueError, match="train_text_classifier"):
        score_text_classifier(t, t, "text", "doc_id")


def test_score_output_column_collisions_fail_fast(spark):
    from littletable_spark.operators.classifier import score_text_classifier

    t = _feats(spark, [(1.0, 2.0, 0.5)])
    with pytest.raises(ValueError, match="already exist"):
        score_linear(t, {"f_a": 1.0}, out_col="f_b")
    t2, _ = _text_corpus(spark, n_per_class=3)
    from littletable_spark.operators.classifier import train_text_classifier

    m = train_text_classifier(t2, "text", "label", n_features=256)
    with pytest.raises(ValueError, match="already exist"):
        score_text_classifier(t2, m, "text", "doc_id", out_col="label")


def test_train_text_classifier_drops_null_rows(spark):
    from littletable_spark.operators.classifier import (
        score_text_classifier,
        train_text_classifier,
    )

    t = Table("nt", spark=spark)
    t.insert_many(
        [{"doc_id": i, "text": ("good solid text" if i % 2 else "bad spam junk"),
          "label": i % 2} for i in range(10)]
        + [{"doc_id": 10, "text": None, "label": 1},
           {"doc_id": 11, "text": "orphan", "label": None}]
    )
    model = train_text_classifier(t, "text", "label", n_features=256)
    scored = score_text_classifier(t, model, "text", "doc_id", decision_col="keep")
    rows = {r.doc_id: r for r in scored}
    assert len(rows) == 12  # scoring keeps every row, incl. NULL text
    assert all(rows[i].keep == i % 2 for i in range(10))
