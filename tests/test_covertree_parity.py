"""Reference-parity tests for the numpy cover-tree kernel.

Golden values come from the reference's own unit tests:
/root/reference/tests/test_api.cpp and /root/reference/tests/test_cluster.cpp.
"""

import numpy as np
import pytest

from metric_search_spark.core.covertree import (
    BadDistributionError,
    CoverTree,
    UnsortedDistributionError,
)
from metric_search_spark.cells import coords_from_phash
from metric_search_spark.core.metrics import AbsDiff, Euclidean
from metric_search_spark.operators.joins import _flat_topk
from metric_search_spark.sources.synth import lite_rows_for_ids

INTS7 = [3, 5, -10, 50, 1, -200, 200]


def make_tree(data=None):
    t = CoverTree(AbsDiff())
    t.integral_distance = True
    if data:
        t.insert_batch(data)
    return t


class TestInsert:
    def test_insert_covering_each_step(self):  # test_api.cpp:25-32
        t = make_tree()
        for v in INTS7:
            t.insert(v)
            assert t.check_covering()

    def test_insert_batch(self):  # test_api.cpp:34-39
        t = make_tree(INTS7)
        assert t.check_covering()
        assert t.size() == 7

    def test_nesting_on_pure_insert(self):
        t = make_tree(INTS7)
        assert t.check_nesting()


class TestSearch:
    def test_nn(self):  # test_api.cpp:40-50
        t = make_tree(INTS7)
        for prune in ("reference", "safe"):
            n, d = t.nn(200, prune=prune)
            assert t.data[n] == 200 and d == 0

    def test_knn_golden_order(self):  # test_api.cpp:52-65
        t = make_tree(INTS7)
        for prune in ("reference", "safe"):
            res = t.knn(3, 15, prune=prune)
            assert [t.data[n] for n, _ in res] == [3, 1, 5, -10, 50, 200, -200]

    def test_rnn_strict_radius(self):  # tree.cpp:718 strict <
        t = make_tree(INTS7)
        got = sorted(t.data[n] for n, _ in t.rnn(3, radius=2.0))
        assert got == [3]  # d(3,1)=d(3,5)=2 are NOT included (strict <)
        got = sorted(t.data[n] for n, _ in t.rnn(3, radius=2.5))
        assert got == [1, 3, 5]

    def test_knn_vs_bruteforce_random(self):
        rng = np.random.default_rng(7)
        pts = rng.uniform(-1000, 1000, size=(300, 4))
        t = CoverTree(Euclidean())
        t.insert_batch(list(pts))
        probes = rng.uniform(-1000, 1000, size=(20, 4))
        for p in probes:
            res = t.knn(p, 10, prune="safe")
            got = sorted(d for _, d in res)
            brute = np.sort(np.linalg.norm(pts - p, axis=1))[:10]
            assert np.allclose(got, brute)

    def test_nn_vs_bruteforce_random(self):
        rng = np.random.default_rng(8)
        pts = rng.uniform(-10, 10, size=(200, 2))
        t = CoverTree(Euclidean())
        t.insert_batch(list(pts))
        for p in rng.uniform(-10, 10, size=(20, 2)):
            _, d = t.nn(p, prune="safe")
            assert np.isclose(d, np.linalg.norm(pts - p, axis=1).min())

    def test_rnn_vs_bruteforce_random(self):
        rng = np.random.default_rng(9)
        pts = rng.uniform(-10, 10, size=(200, 2))
        t = CoverTree(Euclidean())
        t.insert_batch(list(pts))
        for p in rng.uniform(-10, 10, size=(10, 2)):
            got = sorted(d for _, d in t.rnn(p, radius=5.0, prune="safe"))
            brute = np.linalg.norm(pts - p, axis=1)
            assert np.allclose(got, np.sort(brute[brute < 5.0]))


class TestJoinKernelParity:
    def test_flat_kernel_matches_tree_knn(self):
        """The join's flat top-k kernel and the cover tree's knn agree on the
        image-coordinate fixture: same neighbors in the same order, same
        distances (build rows sorted by id, so a node handle is an id rank)."""
        pdf = lite_rows_for_ids(np.arange(200), seed=42)
        x, y = coords_from_phash(pdf["phash"].to_numpy())
        ids = pdf["image_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids, B = ids[order], np.column_stack((x, y))[order]
        P = np.column_stack((x, y))[:30]
        idx, dist = _flat_topk(Euclidean(), P, B, 4)
        t = CoverTree(Euclidean())
        t.insert_batch(list(B))
        for i, p in enumerate(P):
            res = t.knn(p, k=4, prune="safe")
            assert [ids[n] for n, _ in res] == list(ids[idx[i]]), i
            np.testing.assert_allclose([d for _, d in res], dist[i], atol=1e-9)


class TestErase:
    def test_erase_all(self):  # test_api.cpp:67-77
        t = make_tree(INTS7)
        for v in INTS7:
            assert t.erase(v)
            assert t.check_covering()
        assert t.empty()

    def test_erase_root_repeatedly(self):  # test_api.cpp:79-90
        t = make_tree(INTS7)
        for _ in range(7):
            root_val = t.data[t.root]
            assert t.erase(root_val)
            assert t.check_covering()
        assert t.empty()

    def test_erase_missing(self):
        t = make_tree(INTS7)
        assert not t.erase(999)
        assert t.size() == 7


class TestInsertIf:
    def test_insert_if_golden(self):  # test_api.cpp:92-99
        t = make_tree()
        t.insert(1)
        assert not t.insert_if(2, 10)
        assert t.insert_if(15, 10)
        assert not t.insert_if(14, 10)
        assert t.insert_if(26, 10)


class TestExports:
    def test_to_json_goldens(self):  # test_api.cpp:108-117
        t = make_tree()
        t.insert(1)
        assert t.to_json() == '{\n"nodes": [\n{ "id":0, "values":1}\n],\n"edges": [\n]}\n'
        t.insert(2)
        assert t.to_json() == (
            '{\n"nodes": [\n{ "id":0, "values":1},\n{ "id":1, "values":2}\n],\n'
            '"edges": [\n{ "source":0, "target":1, "distance":1}\n]}\n'
        )

    def test_to_vector_id_order(self):
        t = make_tree(INTS7)
        assert t.to_vector() == INTS7

    def test_getitem(self):
        t = make_tree(INTS7)
        for i, v in enumerate(INTS7):
            assert t[i] == v

    def test_traverse_child_skips_root(self):  # tree.cpp:963-981
        t = make_tree(INTS7)
        seen_all, seen_children = [], []
        t.traverse(seen_all.append)
        t.traverse_child(seen_children.append)
        assert len(seen_children) == len(seen_all) - 1
        assert t.root not in seen_children
        assert set(seen_children) == set(seen_all) - {t.root}
        # reference order quirk: children are reported at push time — for
        # each popped node its children appear in child order, root's first
        assert seen_children[: len(t.children[t.root])] == t.children[t.root]

    def test_print_levels(self):
        t = make_tree(INTS7)
        hist = t.print_levels()
        assert sum(hist.values()) == 7
        assert max(hist) == t.level_size()

    def test_rows_roundtrip(self):
        t = make_tree(INTS7)
        rows = t.to_rows()
        t2 = CoverTree.from_rows(rows, AbsDiff())
        assert t.same_tree(t2)
        n1, d1 = t.knn(3, 15)[0], t.knn(3, 15)[0]
        assert [t.data[n] for n, _ in t.knn(3, 5)] == [t2.data[n] for n, _ in t2.knn(3, 5)]


class TestClusteringGolden:
    DATA = [7, 8, 9, 10, 11, 12, 13]

    def test_cluster1(self):  # test_cluster.cpp:23-46
        t = make_tree(self.DATA)
        dist = [0.1, 0.2, 0.3, 0.5]
        assert t.clustering(dist, ids=[1, 2, 3], points=self.DATA) == [[], [1], [0], [2]]
        assert t.clustering(dist, points=[8, 9, 10]) == [[], [1], [0], [2]]

    def test_cluster2(self):  # test_cluster.cpp:48-70
        t = make_tree(self.DATA)
        dist = [0.1, 0.2, 0.3, 0.5]
        assert t.clustering(dist, ids=[3], points=self.DATA) == [[], [3], [4], [2]]
        assert t.clustering(dist, points=[10]) == [[], [3], [4], [2]]

    def test_cluster3(self):  # test_cluster.cpp:72-94
        t = make_tree(self.DATA)
        dist = [0.1, 0.2, 0.5, 0.9]
        assert t.clustering(dist, ids=[3], points=self.DATA) == [[], [3], [4, 2], [1, 0, 5]]
        assert t.clustering(dist, points=[10]) == [[], [3], [4, 2], [1, 0, 5]]

    def test_cluster_exceptions(self):  # test_cluster.cpp:96-112
        t = make_tree(self.DATA)
        with pytest.raises(UnsortedDistributionError):
            t.clustering([0.9, 0.1, 0.2, 0.5, 0.9], ids=[3], points=self.DATA)
        with pytest.raises(BadDistributionError):
            t.clustering([0.1, 0.2, 0.5, 0.9, 1, 5], ids=[3], points=self.DATA)
        t.clustering([0.1, 0.2, 0.5, 0.9], ids=[3], points=self.DATA)  # no raise

    def test_quota_sums(self):  # clustering_example.cpp:14-18 property
        data = list(range(20))
        t = make_tree(data)
        dist = [0.1, 0.2, 0.5, 0.9]
        res = t.clustering(dist, points=[10])
        sizes = [int(20 * d) for d in dist]
        marginal = [sizes[0]] + [sizes[i] - sizes[i - 1] for i in range(1, len(sizes))]
        assert [len(b) for b in res] == marginal


class TestFuzz:
    """Port of examples/fuzzy_test.cpp:36-73: random sizes, covering after every
    insert, serialize/deserialize equality, erase-root loop."""

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_fuzz_roundtrip(self, seed):
        rng = np.random.default_rng(seed)
        n = int(rng.integers(1, 120))
        vals = rng.uniform(-100000, 100000, size=n)
        t = CoverTree(AbsDiff())
        for v in vals:
            t.insert(float(v))
            assert t.check_covering()
        t2 = CoverTree.from_rows(t.to_rows(), AbsDiff())
        assert t.same_tree(t2)
        for _ in range(min(n, 30)):
            assert t.erase(t.data[t.root])
            if t.empty():
                break
            assert t.check_covering()
