"""Each output check must fail on a deliberately corrupted output.

    python3 -m unittest pipebench/test_checks.py      # from the repository root

Runs every workload once through run.py (which must pass its own checks),
keeps the inputs and outputs, then corrupts a copy per case and asserts that
the workload's check reports the corruption.
"""
import glob
import os
import shutil
import subprocess
import sys
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

KEEP = os.path.join(HERE, ".work", "test-checks")


def run_workload(workload):
    dest = os.path.join(KEEP, workload)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "0", "--keep", dest],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} run failed:\n{proc.stderr[-3000:]}")
    return dest


def rewrite(path, select):
    """Replace one parquet file by `select` over its rows (table `t`)."""
    tmp = path + ".tmp"
    con = duckdb.connect()
    con.sql(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
    con.sql(f"COPY ({select}) TO '{tmp}' (FORMAT parquet)")
    os.replace(tmp, path)


def first_file(directory, pattern="*.parquet"):
    """A parquet file under `directory` that holds at least two rows."""
    for f in sorted(glob.glob(os.path.join(directory, "**", pattern), recursive=True)):
        if duckdb.sql(f"SELECT count(*) FROM read_parquet('{f}')").fetchone()[0] >= 2:
            return f
    raise AssertionError(f"no parquet file with rows under {directory}")


class CheckersFailOnCorruption(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        shutil.rmtree(KEEP, ignore_errors=True)
        cls.kept = {w: run_workload(w) for w in checks.CHECKS}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(KEEP, ignore_errors=True)

    def corrupt(self, workload, name):
        dest = os.path.join(KEEP, f"{workload}-{name}")
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(self.kept[workload], dest)
        return os.path.join(dest, "in2"), os.path.join(dest, "out")

    def assert_flags(self, workload, in_dir, out_dir, prefix):
        problems = checks.check(workload, in_dir, out_dir)
        self.assertTrue(any(p.startswith(prefix) for p in problems),
                        f"expected a '{prefix}' problem, got {problems}")

    def test_uncorrupted_outputs_pass(self):
        for w, d in self.kept.items():
            self.assertEqual(checks.check(w, os.path.join(d, "in2"),
                                          os.path.join(d, "out")), [], w)

    def test_x12_dropped_silver_row(self):
        i, o = self.corrupt("x12", "silver")
        rewrite(first_file(os.path.join(o, "silver")), "SELECT * FROM t OFFSET 1")
        self.assert_flags("x12", i, o, "silver")

    def test_x12_changed_mart_value(self):
        i, o = self.corrupt("x12", "mart")
        rewrite(first_file(os.path.join(o, "gold_transaction_summary")),
                "SELECT * REPLACE (transaction_count + (row_number() OVER () = 1)::INT "
                "AS transaction_count) FROM t")
        self.assert_flags("x12", i, o, "gold_transaction_summary")

    def test_x12_duplicated_ledger_row(self):
        i, o = self.corrupt("x12", "ledger")
        rewrite(first_file(os.path.join(o, "_processed_files")),
                "SELECT * FROM t UNION ALL (SELECT * FROM t LIMIT 1)")
        self.assert_flags("x12", i, o, "ledger")

    def test_curation_duplicated_survivor(self):
        i, o = self.corrupt("operators", "survivor")
        rewrite(first_file(os.path.join(o, "survivors")),
                "SELECT * FROM t UNION ALL (SELECT * FROM t LIMIT 1)")
        self.assert_flags("operators", i, o, "survivors")

    def test_curation_second_survivor_in_a_cluster(self):
        i, o = self.corrupt("operators", "cluster")
        f = first_file(os.path.join(o, "survivors"))
        fd = os.path.join(o, "frontdoor", "*.parquet")
        cl = os.path.join(o, "clusters", "*.parquet")
        rewrite(f, f"""SELECT * FROM t UNION ALL
            (SELECT t2.* FROM read_parquet('{fd}') t2
             JOIN read_parquet('{cl}') c ON c.doc_id = t2.doc_id
             WHERE c.doc_id <> c.cluster_id LIMIT 1)""")
        self.assert_flags("operators", i, o, "clusters")

    def test_retrieval_swapped_neighbour(self):
        i, o = self.corrupt("operators", "neighbour")
        rewrite(first_file(os.path.join(o, "fullprobe")), """
            WITH q AS (SELECT min(query_id) AS q FROM t)
            SELECT t.* REPLACE (CASE WHEN t.query_id = q.q AND t.rank IN (1, 2)
              THEN (SELECT neighbor_id FROM t u WHERE u.query_id = q.q
                    AND u.rank = 3 - t.rank) ELSE t.neighbor_id END AS neighbor_id)
            FROM t, q""")
        self.assert_flags("operators", i, o, "fullprobe")

    def test_retrieval_changed_bm25_score(self):
        i, o = self.corrupt("operators", "bm25")
        rewrite(first_file(os.path.join(o, "bm25")),
                "SELECT * REPLACE (bm25q + (row_number() OVER () = 1)::BIGINT AS bm25q) FROM t")
        self.assert_flags("operators", i, o, "bm25")


if __name__ == "__main__":
    unittest.main()
