"""Power test of check.py on the sf0.001 fixtures.

For each kind of check, a correct result must pass, and the same result
with one value altered, or with one row dropped, must fail. The correct
results are made here (DuckDB, or the checker's own exact computations),
so the test needs no engine build.

    python3 perfbench/test_check.py        # from the root of a checkout
"""
import os
import shutil
import unittest

import duckdb

import check

DATA = os.environ.get("PERFBENCH_SMALL_DATA",
                      os.path.join(os.path.expanduser("~"), "testdata", "sf0.001"))
WORKDIR = os.path.join(os.getcwd(), ".bench_build", "perfbench", "checker-test")

ORDERS_SQL = """SELECT o_orderpriority, count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1"""
KMV_SQL = {
    "q246_kmv_distinct": """SELECT o_orderpriority,
  count(DISTINCT o_custkey) AS ndv_direct, count(DISTINCT o_custkey) AS ndv_merged
FROM orders GROUP BY 1 ORDER BY 1""",
    "q248_incremental_rollup": """SELECT o_orderpriority, count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  count(DISTINCT o_custkey) AS ndv_cust
FROM orders GROUP BY 1 ORDER BY 1""",
}


class CheckerPower(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.con = check.connect(DATA)
        shutil.rmtree(WORKDIR, ignore_errors=True)
        os.makedirs(WORKDIR)

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(WORKDIR, ignore_errors=True)

    def verdict(self, name, df, oracle=None):
        path = os.path.join(WORKDIR, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        con = duckdb.connect()
        con.register("result", df)
        con.execute(f"COPY result TO '{path}/part-0.parquet' (FORMAT PARQUET)")
        con.close()
        return check.check(DATA, WORKDIR, [name], oracle or {})[name]

    def assert_power(self, name, good, column, oracle=None, row=0):
        self.assertGreater(len(good), 1, f"{name}: too few rows to test")
        self.assertIsNone(self.verdict(name, good, oracle))
        altered = good.copy()
        v = altered.at[altered.index[row], column]
        altered.at[altered.index[row], column] = v + (0.5 if isinstance(v, float) else 1)
        self.assertIsNotNone(self.verdict(name, altered, oracle), f"{name}: altered value passed")
        self.assertIsNotNone(self.verdict(name, good.drop(good.index[row]), oracle),
                             f"{name}: dropped row passed")

    def test_oracle_sql(self):
        good = self.con.execute(ORDERS_SQL).fetchdf()
        self.assert_power("q_orders", good, "revenue", {"q_orders": ORDERS_SQL})
        self.assert_power("q_orders", good, "n_orders", {"q_orders": ORDERS_SQL})

    def test_jaccard_pairs(self):
        pairs = check.jaccard_pairs(self.con)
        good = check._frame(pairs, ["ida", "idb", "jac"])
        self.assert_power("q65_minhash_lsh", good, "jac")
        self.assert_power("q65_minhash_lsh", good, "idb")
        q201 = check._frame([p for p in pairs if p[0] % 4 == 0 or p[1] % 4 == 0],
                            ["ida", "idb", "jac"])
        self.assert_power("q201_incremental_dedup", q201, "jac")

    def test_jaccard_clusters(self):
        good = check._frame(check.clusters(check.jaccard_pairs(self.con)),
                            ["comp", "max_id", "n_members"])
        self.assert_power("q123_dedup_clusters", good, "n_members")

    def test_kmv_exact_when_underfilled(self):
        for name, sql in KMV_SQL.items():
            good = self.con.execute(sql).fetchdf()
            column = "ndv_cust" if "ndv_cust" in good else "ndv_direct"
            self.assert_power(name, good, column, {name: sql})
        good = self.con.execute(KMV_SQL["q248_incremental_rollup"]).fetchdf()
        self.assert_power("q248_incremental_rollup", good, "revenue",
                          {"q248_incremental_rollup": KMV_SQL["q248_incremental_rollup"]})

    def test_kmv_lanes_and_tolerance(self):
        name, sql = "q246_kmv_distinct", KMV_SQL["q246_kmv_distinct"]
        saved = check.KMV_K
        check.KMV_K = 16  # every group is over-filled: estimates are judged by tolerance
        try:
            good = self.con.execute(sql).fetchdf()
            self.assertIsNone(self.verdict(name, good, {name: sql}))
            lanes = good.copy()
            lanes.loc[lanes.index[0], "ndv_merged"] += 1
            self.assertIsNotNone(self.verdict(name, lanes, {name: sql}))
            far = good.copy()
            far[["ndv_direct", "ndv_merged"]] = far[["ndv_direct", "ndv_merged"]] * 2
            self.assertIsNotNone(self.verdict(name, far, {name: sql}))
        finally:
            check.KMV_K = saved

    def test_cosine_pairs(self):
        ids, vecs = check.twin_vectors(self.con)
        n = len(ids) // 2
        rows = []
        for i in range(n):
            a, b = vecs[i], vecs[i + n]
            cos = float(a @ b / ((a @ a) ** 0.5 * (b @ b) ** 0.5))
            rows.append((int(ids[i]), int(ids[i + n]), check.round6(cos)))
        good = check._frame(rows, ["ida", "idb", "score"])
        self.assert_power("q111_neardup_lsh", good, "score")
        wrong = good.copy()
        wrong.loc[wrong.index[0], "idb"] = int(ids[1])
        self.assertIsNotNone(self.verdict("q111_neardup_lsh", wrong))


if __name__ == "__main__":
    unittest.main()
