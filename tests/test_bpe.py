"""BPE training/apply vs an independent pure-Python reference (the
Sennrich ACL'16 scan form — deliberately the OTHER merge formulation,
so the fold/scan equivalence claim is what the test pins)."""

from collections import Counter

from ophois_spark.operators.bpe import EOW, bpe_apply, bpe_train


def _py_word_counts(texts):
    c = Counter()
    for t in texts:
        for w in t.strip(" ").split():
            if w:
                c[w] += 1
    return c


def _py_merge_scan(sym, left, right):
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def _py_bpe_train(texts, n_merges):
    words = {w: (list(w) + [EOW], n) for w, n in _py_word_counts(texts).items()}
    merges = []
    for r in range(n_merges):
        pc = Counter()
        for sym, n in words.values():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((r, best[0], best[1]))
        words = {
            w: (_py_merge_scan(sym, *best), n) for w, (sym, n) in words.items()
        }
    return merges


def _py_bpe_apply(text, merges):
    total = 0
    for w in text.strip(" ").split():
        if not w:
            continue
        sym = list(w) + [EOW]
        for _, left, right in merges:
            sym = _py_merge_scan(sym, left, right)
        total += len(sym)
    return total


CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new"),
    (3, "wider wide wide widest"),
    (4, "low new wide lower newer"),
]


# ties and overlapping pairs (aaa, abab, banana/bandana)
TIE_CORPUS = [
    (1, "aaa abab low lower lowest"),
    (2, "newest newest widest low aaa"),
    (3, "abab abab banana bandana"),
]


def test_bpe_train_matches_python_reference(spark):
    for corpus, n_merges in ((CORPUS, 10), (TIE_CORPUS, 20)):
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        got = bpe_train(docs, n_merges=n_merges)
        want = _py_bpe_train([t for _, t in corpus], n_merges)
        assert got == want


def test_bpe_train_tiebreak_lexicographic(spark):
    # every pair count ties at 1 -> winners are purely lexicographic
    docs = spark.createDataFrame([(1, "ba dc")], "doc_id long, text string")
    got = bpe_train(docs, n_merges=3)
    want = _py_bpe_train(["ba dc"], 3)
    assert got == want
    assert got[0][1:] == ("a", EOW)  # smallest (left, right) among the ties


def test_bpe_apply_matches_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges = _py_bpe_train([t for _, t in CORPUS], 8)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_apply(docs, merges).collect()
    }
    want = {i: _py_bpe_apply(t, merges) for i, t in CORPUS}
    assert got == want


def test_bpe_overlapping_run_greedy(spark):
    # "aaaa": merge (a,a) must apply greedily left-to-right -> [aa, aa, </w>]
    docs = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    merges = [(0, "a", "a")]
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_apply(docs, merges).collect()}
    # aaaa -> aa aa </w> = 3; aaa -> aa a </w> = 3
    assert got == {1: 6}
