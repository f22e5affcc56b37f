"""Property tests for the round-13 batch 4-8 operators — the exact
classifier family: the integer-exact full-batch perceptron trainer,
the tie-corrected Mann-Whitney ROC-AUC meter, the trained-weights
confusion matrix, the PR threshold sweep, the streaming scorer, the
inter-labeler kappa, and the ERM decision stump.  Oracle parity is
covered registry-wide by tests/test_oracle_parity.py; these pin the
SEMANTICS against independent Python recomputes (full training
trajectory; all-pairs AUC; threshold argmin) and hand-constructed
corpora where the right answer is known."""

import re

from wiki_references_db_spark.queries import all_queries
from wiki_references_db_spark.tables import load_table


def _write_docs(spark, tmp_path, rows):
    """Write a synthetic documents table to a temp sf_dir; rows are
    (text, source) pairs."""
    df = spark.createDataFrame(
        [
            (i, text, "en", src, len(text))
            for i, (text, src) in enumerate(rows)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _py_features(docs):
    """The Python mirror of the shared integer feature map: docs is a
    list of (text, source, n_chars) -> list of (x1, x2, x3, x4, y01)."""
    out = []
    for text, source, n_chars in docs:
        toks = re.split(r"\s+", (text or "").strip())
        x1 = len(toks)
        x2 = len(set(toks))
        x3 = sum(1 for t in toks if len(t) >= 8)
        x4 = n_chars
        pos = int(source[3:]) < 10
        out.append((x1, x2, x3, x4, pos))
    return out


def _py_perceptron(feats, iters=3):
    """Full-batch perceptron trajectory: returns [(iter, n_miscls,
    w1..w4, b)] with n_miscls evaluated BEFORE each update."""
    w = [0, 0, 0, 0]
    b = 0
    rows = []
    for it in range(1, iters + 1):
        dw = [0, 0, 0, 0]
        db = 0
        n_mis = 0
        for x1, x2, x3, x4, pos in feats:
            y = 1 if pos else -1
            margin = y * (w[0] * x1 + w[1] * x2 + w[2] * x3 + w[3] * x4 + b)
            if margin <= 0:
                n_mis += 1
                for k, xv in enumerate((x1, x2, x3, x4)):
                    dw[k] += y * xv
                db += y
        w = [a + d for a, d in zip(w, dw)]
        b += db
        rows.append((it, n_mis, w[0], w[1], w[2], w[3], b))
    return rows


def _load_docs(spark, sf_dir):
    return [
        (r["text"], r["source"], r["n_chars"])
        for r in load_table(spark, sf_dir, "documents")
        .select("text", "source", "n_chars")
        .collect()
    ]


# --------------------------------------------------------------------------
# perceptron_quality_train
# --------------------------------------------------------------------------


def test_perceptron_matches_python_trajectory(spark, sf_dir):
    # The ENTIRE 3-iteration trajectory (weights, bias, misclassified
    # counts) must equal an independent Python recompute on the real
    # corpus — exact integers, no tolerance.
    feats = _py_features(_load_docs(spark, sf_dir))
    want = _py_perceptron(feats)
    got = sorted(
        (
            r["iter"],
            r["n_miscls"],
            r["w1"],
            r["w2"],
            r["w3"],
            r["w4"],
            r["b"],
        )
        for r in all_queries()["perceptron_quality_train"](
            spark, sf_dir
        ).collect()
    )
    assert got == want
    # Vacuity guards: training actually updated (iteration-1
    # misclassifies everything at w=0), and both classes exist.
    assert want[0][1] == len(feats)
    assert any(p for *_, p in feats) and not all(p for *_, p in feats)


def test_perceptron_converged_corpus_stops_updating(spark, tmp_path):
    # One positive doc: iteration 1 misclassifies it (margin 0 at w=0)
    # and sets w = x, b = 1; margins are then strictly positive, so
    # iterations 2 and 3 must report n_miscls = 0 and identical weights.
    sf = _write_docs(spark, tmp_path, [("alpha beta gamma", "src0")])
    rows = {
        r["iter"]: r
        for r in all_queries()["perceptron_quality_train"](
            spark, sf
        ).collect()
    }
    assert set(rows) == {1, 2, 3}
    r1 = rows[1]
    # x1=3 tokens, x2=3 distinct, x3=0 long, x4=16 chars.
    assert (r1["n_miscls"], r1["w1"], r1["w2"], r1["w3"], r1["w4"], r1["b"]) \
        == (1, 3, 3, 0, 16, 1)
    for it in (2, 3):
        r = rows[it]
        assert r["n_miscls"] == 0
        assert (r["w1"], r["w2"], r["w3"], r["w4"], r["b"]) == (3, 3, 0, 16, 1)


def test_perceptron_runs_one_aggregate_per_iteration(spark, sf_dir, count_jobs):
    # The weights stay on the driver: each iteration is one global
    # aggregate (a map stage and a 1-row result stage under AQE), and
    # the returned trajectory is literal rows, so construction plus a
    # noop write stays within 2 jobs per iteration plus the write, and
    # no weight frame is joined back onto the corpus.
    from wiki_references_db_spark.queries.pipeline_extra import _PERC_ITERS

    plan = []

    def run():
        df = all_queries()["perceptron_quality_train"](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan.append(df._jdf.queryExecution().executedPlan().toString())

    n_jobs = count_jobs(run)
    spark.catalog.clearCache()
    assert 0 < n_jobs <= 2 * _PERC_ITERS + 2
    assert "BroadcastNestedLoopJoin" not in plan[0]


# --------------------------------------------------------------------------
# auc_rank_eval
# --------------------------------------------------------------------------


def _py_u2(scored):
    """2U with tie correction from (score, is_pos) rows, by all-pairs."""
    pos = [s for s, p in scored if p]
    neg = [s for s, p in scored if not p]
    u2 = 0
    for sp in pos:
        for sn in neg:
            if sp > sn:
                u2 += 2
            elif sp == sn:
                u2 += 1
    return len(pos), len(neg), u2


def test_auc_matches_all_pairs_brute_force(spark, sf_dir):
    feats = _py_features(_load_docs(spark, sf_dir))
    scored = [
        ((1000000 * x2) // x1, pos) for x1, x2, x3, x4, pos in feats
    ]
    n_pos, n_neg, u2 = _py_u2(scored)
    got = all_queries()["auc_rank_eval"](spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_pos"], r["n_neg"], r["u2"]) == (n_pos, n_neg, u2)
    assert r["auc_ppm"] == (1000000 * u2) // (2 * n_pos * n_neg)
    assert u2 > 0, "corpus produced a degenerate AUC (vacuous)"


def test_auc_separated_and_tied_corpora(spark, tmp_path):
    # Perfectly separated: every positive outscores every negative ->
    # AUC exactly 1.0 (1,000,000 ppm).  Positives have all-distinct
    # tokens (diversity 1e6); negatives repeat one token (5e5).
    sf = _write_docs(
        spark,
        tmp_path,
        [
            ("a b c d", "src0"),
            ("e f g h", "src1"),
            ("x x y y", "src10"),
            ("z z w w", "src11"),
        ],
    )
    r = all_queries()["auc_rank_eval"](spark, sf).collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_ppm"]) == (2, 2, 1000000)
    assert r["u2"] == 2 * 4  # 4 pos x neg pairs, each a win (doubled)


def test_auc_all_tied_is_exactly_half(spark, tmp_path):
    # Identical diversity on both sides: every pair is a tie -> AUC is
    # exactly 0.5 (500,000 ppm) under the tie-correction, with u2 odd
    # per pair (the doubled statistic keeps it integer).
    sf = _write_docs(
        spark,
        tmp_path,
        [("a b", "src0"), ("c d", "src12")],
    )
    r = all_queries()["auc_rank_eval"](spark, sf).collect()[0]
    assert (r["n_pos"], r["n_neg"], r["u2"], r["auc_ppm"]) == (
        1,
        1,
        1,
        500000,
    )


# --------------------------------------------------------------------------
# confusion_matrix_eval
# --------------------------------------------------------------------------


def test_confusion_matrix_matches_python_trajectory(spark, sf_dir):
    # Train in Python (same exact trajectory pinned above), apply the
    # final weights, and the four cells + accuracy must match exactly.
    feats = _py_features(_load_docs(spark, sf_dir))
    *_, final = _py_perceptron(feats)
    _, _, w1, w2, w3, w4, b = final
    tp = fp = tn = fn = 0
    for x1, x2, x3, x4, pos in feats:
        m = w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4 + b
        if pos and m > 0:
            tp += 1
        elif pos:
            fn += 1
        elif m > 0:
            fp += 1
        else:
            tn += 1
    got = all_queries()["confusion_matrix_eval"](spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["tp"], r["fp"], r["tn"], r["fn"]) == (tp, fp, tn, fn)
    assert r["accuracy_ppm"] == (1000000 * (tp + tn)) // len(feats)
    assert tp + fn > 0 and fp + tn > 0, "degenerate labels (vacuous)"


# --------------------------------------------------------------------------
# pr_curve_points
# --------------------------------------------------------------------------


def test_pr_curve_matches_python_recompute(spark, sf_dir):
    feats = _py_features(_load_docs(spark, sf_dir))
    scored = [((1000000 * x2) // x1, pos) for x1, x2, _x3, _x4, pos in feats]
    n_pos = sum(1 for _, p in scored if p)
    want = {}
    for t in sorted({s for s, _ in scored}):
        tp = sum(1 for s, p in scored if p and s >= t)
        fp = sum(1 for s, p in scored if not p and s >= t)
        fn = n_pos - tp
        want[t] = (
            tp,
            fp,
            fn,
            (1000000 * tp) // (tp + fp),
            (1000000 * tp) // n_pos,
        )
    got = {
        r["threshold"]: (
            r["tp"],
            r["fp"],
            r["fn"],
            r["precision_ppm"],
            r["recall_ppm"],
        )
        for r in all_queries()["pr_curve_points"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(want) > 10, "too few distinct thresholds (vacuous)"


def test_pr_curve_monotonicity_and_endpoints(spark, sf_dir):
    rows = sorted(
        all_queries()["pr_curve_points"](spark, sf_dir).collect(),
        key=lambda r: r["threshold"],
    )
    # Recall is non-increasing in the threshold, and the LOWEST observed
    # threshold captures everything: recall exactly 1e6, tp+fp = corpus.
    recalls = [r["recall_ppm"] for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    first = rows[0]
    assert first["recall_ppm"] == 1000000 and first["fn"] == 0
    n_docs = first["tp"] + first["fp"]
    for r in rows:
        assert r["tp"] + r["fp"] >= 1
        assert r["tp"] + r["fn"] == first["tp"]
        assert r["tp"] + r["fp"] + r["fn"] <= n_docs


# --------------------------------------------------------------------------
# stream_perceptron_scores
# --------------------------------------------------------------------------


def test_stream_perceptron_matches_corpus_trained_python_model(
    spark, sf_dir
):
    # Train in Python on the CORPUS slice only (doc_id % 10 != 0), then
    # score the stream slice — every streamed row's margin, prediction,
    # and label must match exactly, and only stream-slice docs appear.
    docs = [
        (r["doc_id"], r["text"], r["source"], r["n_chars"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source", "n_chars")
        .collect()
    ]
    corpus_feats = _py_features(
        [(t, s, n) for did, t, s, n in docs if did % 10 != 0]
    )
    *_, final = _py_perceptron(corpus_feats)
    _, _, w1, w2, w3, w4, b = final
    want = {}
    for did, t, s, n in docs:
        if did % 10 != 0:
            continue
        (x1, x2, x3, x4, pos) = _py_features([(t, s, n)])[0]
        m = w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4 + b
        want[did] = (m, 1 if m > 0 else 0, 1 if pos else -1)
    got = {
        r["doc_id"]: (r["margin"], r["pred"], r["label"])
        for r in all_queries()["stream_perceptron_scores"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert want, "stream slice was empty (vacuous)"


# --------------------------------------------------------------------------
# labeler_agreement_kappa
# --------------------------------------------------------------------------


def test_kappa_matches_python_recompute(spark, sf_dir):
    feats = _py_features(_load_docs(spark, sf_dir))
    n = len(feats)
    a1 = sum(1 for *_, p in feats if p)
    b1 = sum(1 for x1, x2, *_ in feats if (1000000 * x2) // x1 >= 500000)
    agree = sum(
        1
        for x1, x2, _x3, _x4, p in feats
        if int(p) == int((1000000 * x2) // x1 >= 500000)
    )
    pe_num = a1 * b1 + (n - a1) * (n - b1)
    got = all_queries()["labeler_agreement_kappa"](spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_docs"], r["a_pos"], r["b_pos"], r["n_agree"]) == (
        n,
        a1,
        b1,
        agree,
    )
    assert r["po_ppm"] == (1000000 * agree) // n
    assert r["pe_ppm"] == (1000000 * pe_num) // (n * n)
    den = n * n - pe_num
    assert r["kappa_plus1_ppm"] == (
        1000000 * ((agree * n - pe_num) + den)
    ) // den
    # Vacuity guard: both labelers must actually split the corpus.
    assert 0 < a1 < n and 0 < b1 < n


def test_kappa_perfect_and_chance_agreement(spark, tmp_path):
    # Labelers agree perfectly: A=B=1 on diverse src0 docs, A=B=0 on
    # repetitive src10 docs -> po = 1e6, kappa_plus1 = 2e6 (kappa 1).
    sf = _write_docs(
        spark,
        tmp_path,
        [
            ("a b c d", "src0"),
            ("e f g h", "src1"),
            ("x x x", "src10"),
            ("w w w", "src11"),
        ],
    )
    r = all_queries()["labeler_agreement_kappa"](spark, sf).collect()[0]
    assert r["po_ppm"] == 1000000
    assert r["kappa_plus1_ppm"] == 2000000


# --------------------------------------------------------------------------
# decision_stump_train
# --------------------------------------------------------------------------


def test_stump_matches_python_argmin(spark, sf_dir):
    feats = _py_features(_load_docs(spark, sf_dir))
    scored = [((1000000 * x2) // x1, p) for x1, x2, _x3, _x4, p in feats]
    n_pos = sum(1 for _, p in scored if p)
    n_neg = len(scored) - n_pos
    best = None
    for t in sorted({s for s, _ in scored}):
        tp = sum(1 for s, p in scored if p and s >= t)
        fp = sum(1 for s, p in scored if not p and s >= t)
        err = (n_pos - tp) + fp
        if best is None or (err, t) < (best[0], best[1]):
            best = (err, t, tp, fp, n_neg - fp, n_pos - tp)
    got = all_queries()["decision_stump_train"](spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    err, t, tp, fp, tn, fn = best
    assert (
        r["threshold"],
        r["tp"],
        r["fp"],
        r["tn"],
        r["fn"],
        r["error"],
    ) == (t, tp, fp, tn, fn, err)
    # The lowest observed threshold predicts all-positive (error =
    # n_neg), so the argmin can never exceed it; and the cells must
    # reconcile with the class totals.
    assert r["error"] <= n_neg
    assert r["tp"] + r["fn"] == n_pos and r["fp"] + r["tn"] == n_neg


# --------------------------------------------------------------------------
# fim_split_transform
# --------------------------------------------------------------------------


def test_fim_split_matches_python_recompute(spark, sf_dir):
    # Full Python mirror: same md5-derived cuts, same slices, same
    # digests — every output row checked, plus the split identities.
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    hexd = "0123456789abcdef"
    want = {}
    for did, text in docs:
        toks = re.split(r"\s+", (text or "").strip())
        n = len(toks)
        if n < 3:
            continue
        h = md5(text or "")

        def h16(off):
            v = 0
            for i, mult in enumerate((4096, 256, 16, 1)):
                v += mult * hexd.index(h[off + i - 1])
            return v

        c1 = 1 + (h16(1) % (n - 1))
        c2 = 1 + (h16(5) % (n - 1))
        lo, hi = min(c1, c2), max(c1, c2)
        want[did] = (
            n,
            lo,
            hi,
            lo,
            hi - lo,
            n - hi,
            md5(" ".join(toks[:lo])),
            md5(" ".join(toks[lo:hi])),
            md5(" ".join(toks[hi:])),
        )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["cut_lo"],
            r["cut_hi"],
            r["n_prefix"],
            r["n_middle"],
            r["n_suffix"],
            r["prefix_md5"],
            r["middle_md5"],
            r["suffix_md5"],
        )
        for r in all_queries()["fim_split_transform"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert want, "no splittable documents (vacuous)"
    # Structural invariants: prefix and suffix never empty; counts sum.
    for n, lo, hi, npre, nmid, nsuf, *_ in want.values():
        assert npre >= 1 and nsuf >= 1 and npre + nmid + nsuf == n
