"""Freeze the per-row predicted probabilities of the driver ML model.

ml_rf_interactions and ml_roc_points share ONE model fit (Infects
feature table → exact stratified 80/20 split, seed 42 → RF(20 trees,
seed 42)); their driver oracles are frozen fixtures of the ENGINE's own
output, which pins determinism but not correctness of the curve/count
math.  This tool freezes the model's raw per-row scores on the held-out
split — (src, dst, gold, score=P(interacts)) at full float precision —
plus the engine's evaluate() metrics for the same fit, so that
tests/test_fixture_independent.py can recompute ROC points, the AUC
trapezoid, and the confusion counts from the scores WITHOUT MLlib and
compare them against the frozen driver fixtures
(bin/CalculatePredModel.R:302-313 semantics: roc() over held-out
probabilities + twoClassSummary).  After this, only the RF fit itself
remains engine-attested (a genuine second-RF-implementation boundary).

Double-run determinism check, same protocol as gen_fixture_oracles.py.

Usage: python tools/gen_ml_probs.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(ROOT, "tests", "ml_frozen.py")

HEADER = '''"""Frozen per-row predicted probabilities + evaluate() metrics for the
driver ML model fit (the ml_rf_interactions / ml_roc_points model) —
generated by tools/gen_ml_probs.py at sf0.01 with a double-run
determinism check.  Do not hand-edit; regenerate and review the diff.

ML_PROBS_SF001 rows: (src, dst, gold, score) with score = the RF's raw
P(interacts) on the held-out stratum, full float precision.
ML_EVAL_SF001: dict of the engine's evaluate() output on the same fit.
ML_NESTED_PROBS_SF001 rows: (iteration, gold, score) — the held-out
scores of each ml_nested_cv outer iteration's CV-selected model (src
and dst are dropped; per-iteration metric recomputation only needs
gold + score).
ML_QUALITY_PROBS_SF001 rows: (doc_id, source, quality_prob) — every
doc's raw P(curated) from the ml_quality_classifier LR fit, so the
driver fixture's per-source means/counts are independently
recomputable.
ML_NESTED_FOLD_AUCS_SF001 rows: (iteration, mtry, fold, n_validation,
auc) — each inner-CV fold's held-out AUC per mtry grid point, replayed
fold-for-fold from CrossValidator's rand(seed) bucket assignment and
asserted equal (1e-9) to the real CrossValidator's avgMetrics at
generation time, so each cv_auc = max over mtry of the fold mean is
recomputable from these rows.
ML_NESTED_FOLD_SCORES_SF001 rows: (iteration, mtry, fold, score,
n_pos, n_neg) — the per-fold held-out SCORE MULTISET (AUC depends only
on the (gold, score) multiset, so identical scores aggregate to
counts; RF scores cluster heavily, ~400 distinct per 10k rows).  From
these each fold AUC in ML_NESTED_FOLD_AUCS_SF001 is recomputable
EXACTLY by the independent trapezoid (asserted at generation), closing
the last engine-attested statement in the nested-CV chain: only the RF
fits themselves remain engine-side (the adjudicated second-
implementation boundary).
"""

# fmt: off
'''


def compute(spark, sf_dir):
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.model import (
        FEATURES,
        build_pipeline,
        evaluate,
        prepare_training,
        stratified_split,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import (
        infects_edges,
    )

    data = prepare_training(infects_edges(spark, sf_dir))
    train, test = stratified_split(data, 0.8, seed=42)
    model = build_pipeline(num_trees=20, seed=42).fit(train)
    pred = model.transform(test.fillna(0.0, subset=FEATURES))
    rows = sorted(
        (str(r["src"]), str(r["dst"]), int(r["label"]), float(r["score"]))
        for r in pred.select(
            "src", "dst", "label",
            vector_to_array("probability").getItem(1).alias("score"),
        ).collect()
    )
    ev = evaluate(model, test)
    metrics = {
        # MLlib's distributed AUC reduction is order-sensitive at the
        # last ulp (observed 1e-16 run-to-run drift on identical
        # scores); 10dp is far below any meaningful difference and far
        # above the jitter.  sensitivity/specificity are exact count
        # ratios — deterministic, frozen raw.
        "auc": round(float(ev["auc"]), 10),
        "sensitivity": float(ev["sensitivity"]),
        "specificity": float(ev["specificity"]),
        "n_test": int(ev["n_test"]),
    }

    # ml_nested_cv's outer loop, replayed fit-for-fit (same as
    # ml/model.nested_cv with n_outer=2, num_folds=3, num_trees=20,
    # seed=42 — the driver entry's exact parameters): freeze each
    # iteration's held-out scores so auc/sensitivity/specificity are
    # independently recomputable.  r06 adds the inner CV's per-fold
    # AUCs: the fold split is replayed exactly as CrossValidator._kFold
    # does it (rand(seed) ∈ [i/n, (i+1)/n) buckets over the SAME
    # canonicalized train layout), each (param, fold) model refit with
    # identical seeds, and the resulting per-fold metric means are
    # asserted equal to the REAL CrossValidator's avgMetrics before
    # freezing — so cv_auc's selection arithmetic (mean over folds, max
    # over the mtry grid) becomes independently recomputable from the
    # frozen fold AUCs.
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.model import build_pipeline

    evaluator = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    )
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from independent_impl import auc_trapezoid_py

    nested_rows = []
    fold_aucs = []  # (iteration, mtry, fold, n_validation, auc)
    fold_scores = []  # (iteration, mtry, fold, score, n_pos, n_neg)
    for i in range(2):
        it_seed = 42 + i
        tr_i, te_i = stratified_split(data, train_frac=0.8, seed=it_seed)
        # train_cv's exact construction, inlined to reach avgMetrics
        # (train_cv returns only bestModel + max): same pipeline, grid
        # order, folds, parallelism, and seed → identical fits
        cv_pipe = build_pipeline(num_trees=20, seed=it_seed)
        cv_grid = (
            ParamGridBuilder()
            .addGrid(cv_pipe.getStages()[-1].featureSubsetStrategy, ["1", "2", "3"])
            .build()
        )
        cv_model = CrossValidator(
            estimator=cv_pipe,
            estimatorParamMaps=cv_grid,
            evaluator=evaluator,
            numFolds=3,
            parallelism=4,
            seed=it_seed,
        ).fit(tr_i)
        model_i, cv_auc = cv_model.bestModel, max(cv_model.avgMetrics)
        pred_i = model_i.transform(te_i.fillna(0.0, subset=FEATURES))
        nested_rows.extend(
            sorted(
                (i, int(r["label"]), float(r["score"]), str(r["src"]), str(r["dst"]))
                for r in pred_i.select(
                    "src", "dst", "label",
                    vector_to_array("probability").getItem(1).alias("score"),
                ).collect()
            )
        )

        # replay CrossValidator._kFold verbatim: rand(it_seed) buckets
        n_folds, h = 3, 1.0 / 3
        with_rand = tr_i.select("*", F.rand(it_seed).alias("_rand")).localCheckpoint()
        per_param_means = []
        for p_i, mtry in enumerate(["1", "2", "3"]):
            fold_vals = []
            for f_i in range(n_folds):
                cond = (F.col("_rand") >= f_i * h) & (F.col("_rand") < (f_i + 1) * h)
                validation = with_rand.filter(cond)
                fold_train = with_rand.filter(~cond)
                pipe = build_pipeline(num_trees=20, seed=it_seed)
                pipe.getStages()[-1].setFeatureSubsetStrategy(mtry)
                m = pipe.fit(fold_train)
                pred_f = m.transform(validation)
                auc_f = float(evaluator.evaluate(pred_f))
                fold_vals.append(auc_f)
                # freeze the fold's (gold, score) MULTISET: AUC is a
                # pure function of it, and RF scores cluster, so
                # aggregating identical scores keeps the fixture small
                agg: dict[float, list[int]] = {}
                for r in pred_f.select(
                    "label",
                    vector_to_array("probability").getItem(1).alias("score"),
                ).collect():
                    pn = agg.setdefault(float(r["score"]), [0, 0])
                    pn[int(r["label"])] += 1
                # n_val must come from an INDEPENDENT count of the
                # validation split, not the collected score multiset: a
                # row silently dropped by transform/collect would shrink
                # both the frozen n_val and the multiset identically,
                # making the downstream size check circular.
                n_val = validation.count()
                if n_val != sum(p + n for n, p in agg.values()):
                    raise SystemExit(
                        f"score multiset size != validation.count() at "
                        f"iter {i} mtry {mtry} fold {f_i}"
                    )
                fold_aucs.append((i, int(mtry), f_i, n_val, round(auc_f, 10)))
                fold_scores.extend(
                    (i, int(mtry), f_i, s, pn[1], pn[0])
                    for s, pn in sorted(agg.items())
                )
                # the frozen multiset must reproduce the evaluator's AUC
                # via the independent trapezoid — a binning divergence
                # (BinaryClassificationMetrics numBins) would surface
                # here, at generation, not in a flaky test later
                scored = [
                    (g, s)
                    for s, pn in agg.items()
                    for g, cnt in ((1, pn[1]), (0, pn[0]))
                    for _ in range(cnt)
                ]
                if abs(auc_trapezoid_py(scored) - auc_f) > 1e-9:
                    raise SystemExit(
                        f"trapezoid over frozen fold scores != evaluator "
                        f"AUC at iter {i} mtry {mtry} fold {f_i}"
                    )
            per_param_means.append(sum(fold_vals) / n_folds)
            # fidelity: the replayed folds must reproduce the REAL
            # CrossValidator's avgMetrics for this param
            if abs(per_param_means[-1] - float(cv_model.avgMetrics[p_i])) > 1e-9:
                raise SystemExit(
                    f"fold replay diverged from CrossValidator avgMetrics: "
                    f"iter {i} mtry {mtry}: {per_param_means[-1]} vs "
                    f"{cv_model.avgMetrics[p_i]}"
                )
        if abs(max(per_param_means) - float(cv_auc)) > 1e-9:
            raise SystemExit(
                f"max(mean fold AUC) != cv_auc at iter {i}: "
                f"{max(per_param_means)} vs {cv_auc}"
            )
    nested = [(i, g, s) for i, g, s, _src, _dst in nested_rows]

    # ml_quality_classifier's fit, replayed parameter-for-parameter
    # (weak labels = sources src0-4 curated, seeded LR over the text
    # signals): freeze every doc's raw quality_prob so the per-source
    # means/counts of the driver fixture are independently recomputable.
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.quality import (
        score_quality,
        train_quality_classifier,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    srcnum = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    labeled = docs.withColumn("curated", (srcnum < 5).cast("int"))
    qmodel = train_quality_classifier(labeled, label_col="curated")
    quality = sorted(
        (int(r["id"]), str(r["source"]), float(r["quality_prob"]))
        for r in score_quality(qmodel, docs)
        .join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .collect()
    )
    return rows, metrics, nested, quality, fold_aucs, fold_scores


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    spark = get_spark("gen-ml-probs")
    runs = [compute(spark, sf_dir) for _ in range(2)]
    if runs[0] != runs[1]:
        raise SystemExit("ML probs NOT run-to-run identical — refusing to freeze")
    rows, metrics, nested, quality, fold_aucs, fold_scores = runs[0]
    lines = [HEADER, "ML_PROBS_SF001 = ["]
    for src, dst, gold, score in rows:
        lines.append(f"    ({src!r}, {dst!r}, {gold}, {score!r}),")
    lines.append("]")
    lines.append("")
    lines.append("ML_EVAL_SF001 = {")
    for k, v in metrics.items():
        lines.append(f"    {k!r}: {v!r},")
    lines.append("}")
    lines.append("")
    lines.append("ML_NESTED_PROBS_SF001 = [")
    for it, gold, score in nested:
        lines.append(f"    ({it}, {gold}, {score!r}),")
    lines.append("]")
    lines.append("")
    lines.append("ML_QUALITY_PROBS_SF001 = [")
    for did, source, prob in quality:
        lines.append(f"    ({did}, {source!r}, {prob!r}),")
    lines.append("]")
    lines.append("")
    lines.append("ML_NESTED_FOLD_AUCS_SF001 = [")
    for it, mtry, fold, n_val, auc in fold_aucs:
        lines.append(f"    ({it}, {mtry}, {fold}, {n_val}, {auc!r}),")
    lines.append("]")
    lines.append("")
    lines.append("ML_NESTED_FOLD_SCORES_SF001 = [")
    for it, mtry, fold, score, n_pos, n_neg in fold_scores:
        lines.append(f"    ({it}, {mtry}, {fold}, {score!r}, {n_pos}, {n_neg}),")
    lines.append("]")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"froze {len(rows)} prob rows + metrics -> {OUT}")


if __name__ == "__main__":
    main()
