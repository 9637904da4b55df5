"""Each correctness gate passes a right result and fires on a broken one."""

import numpy as np

from perfbench import gates as G
from perfbench.harness import tail


def _truth(seed=0, n=500, dim=16):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim)).astype(np.float32)
    q = x[3] + 0.01
    ids = np.arange(n, dtype=np.int64)
    scores = G.cosine_scores(x, q)
    (truth, tscores) = G.topk_truth(ids, scores, 10)
    return truth, tscores, dict(zip(ids.tolist(), scores.tolist()))


def test_exact_topk_passes_truth_and_fires_on_swap_and_drop():
    truth, tscores, score_of = _truth()
    assert truth[0] == 3
    assert G.exact_topk(truth, truth, tscores, score_of) is None
    assert G.exact_topk(G.swap_first_last(truth), truth, tscores, score_of)
    assert G.exact_topk(G.drop_last(truth), truth, tscores, score_of)


def test_exact_topk_allows_reordered_ties_only():
    truth, tscores = [5, 7, 9], [0.9, 0.8, 0.8]
    score_of = {5: 0.9, 7: 0.8, 9: 0.8, 11: 0.7}
    assert G.exact_topk([5, 9, 7], truth, tscores, score_of) is None
    assert G.exact_topk([5, 7, 11], truth, tscores, score_of)


def test_topk_truth_breaks_ties_by_id():
    ids = np.array([4, 2, 9, 1])
    scores = np.array([0.5, 0.9, 0.5, 0.5])
    assert G.topk_truth(ids, scores, 3)[0] == [2, 1, 4]


def test_row_count_rank1_and_filter_gates():
    assert G.row_count(10, 10) is None
    assert G.row_count(9, 10)
    assert G.rank1([4, 5], [1.0, 0.5], 4, 1 - 1e-6) is None
    assert G.rank1([5, 4], [1.0, 0.5], 4)
    assert G.rank1([4, 5], [0.9, 0.5], 4, 1 - 1e-6)
    assert G.rank1([], [], 4)
    assert G.all_match(["c1", "c1"], "c1") is None
    assert G.all_match(["c1", "c2"], "c1")


def test_shingles_match_the_package_form():
    assert G.shingle_set("a b c d") == {("a", "b", "c"), ("b", "c", "d")}
    assert G.shingle_set(" a  b ") == {("a", "b")}
    assert G.shingle_set("") == frozenset() and G.shingle_set(None) == frozenset()


def test_dedup_gates():
    text = {1: "p q r s t u v", 2: "p q r s t u w", 3: "x y z w v u", 4: "k l m n o"}
    sh = {d: G.shingle_set(t) for d, t in text.items()}
    assert G.jaccard(sh[1], sh[2]) == 4 / 6
    assert G.removed_are_near_dups({2}, sh, 0.5) is None
    assert G.removed_are_near_dups({2, 4}, sh, 0.5)
    assert G.removed_are_near_dups({2}, sh, 0.7)
    inputs = {1, 2, 3, 4}
    assert G.twin_recall({1, 3, 4}, [(1, 2), (3, 4)], inputs) == (0.5, 2, [4])
    assert G.twin_recall({1, 3, 4}, [(1, 2), (3, 9)], inputs) == (1.0, 1, [])
    assert G.recall_floor(0.5, 0.5) is None
    assert G.recall_floor(0.4, 0.5)


def test_set_gates():
    assert G.subset_of({1, 2}, {1, 2, 3}) is None
    assert G.subset_of({1, 5}, {1, 2, 3})


def test_oracle_hash_ignores_order_and_float_noise_but_not_rows():
    rows = [(1, "en", 0.1234561), (2, "de", 0.5)]
    oracle = [(2, "de", 0.5000000001), (1, "en", 0.1234559)]
    assert G.same_rows(rows, oracle) is None
    assert G.same_rows(G.drop_last(rows), oracle)
    assert G.same_rows([(1, "en", 0.1234561), (3, "de", 0.5)], oracle)


def test_recall():
    assert G.recall([1, 2, 3], [1, 2, 4]) == 2 / 3


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))
    value, pct, n = tail(xs)
    assert n == 100 and pct == 90.0
    assert sum(1 for x in xs if x > value) == 10
    assert tail([1.0, 2.0, 9.0]) == (2.0, 50.0, 3)
