"""Each output check passes on the right rows and fails on an altered row."""

import json
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402


def write_parquet(table, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class OracleTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, "tmp"), exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, "tmp"))
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_history(self):
        lake, colors = os.path.join(self.dir, "lake"), os.path.join(self.dir, "colors")
        gen.make_lake(lake, 2, n_users=8, posts_per_user=6, days=5)
        gen.make_staging_color(colors, 2, 8)
        expected = duckdb.sql(oracle.history_sql(lake, colors)).arrow()
        self.assertEqual(expected.num_rows, 8)
        good = os.path.join(self.dir, "good")
        write_parquet(expected, good)
        self.assertEqual(oracle.check_history(lake, colors, good), [])
        rows = expected.to_pylist()
        rows[3]["fol_avg"] = (rows[3]["fol_avg"] or 0) + 0.0001
        bad = os.path.join(self.dir, "bad")
        write_parquet(pa.Table.from_pylist(rows, schema=expected.schema), bad)
        self.assertEqual(len(oracle.check_history(lake, colors, bad)), 1)

    def test_searches(self):
        snap = os.path.join(self.dir, "snapshot")
        write_parquet(pa.table({
            "id": ["1", "2", "3"],
            "caption": ["Fast spark", "slow query", None],
            "hashtags": ["food, travel", " ", "travel"],
            "mentioned_users": ["user0001", "", "user0002, user0001"],
        }), snap)
        searches = [{"query": "keyword:spark", "ids": ["1"]},
                    {"query": "hashtag:travel", "ids": ["1", "3"]},
                    {"query": "mention:user0001", "ids": ["1", "3"]}]
        path = os.path.join(self.dir, "searches.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(searches, f)
        self.assertEqual(oracle.check_searches(snap, path), [])
        searches[1]["ids"] = ["1"]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(searches, f)
        self.assertEqual(len(oracle.check_searches(snap, path)), 1)

    def test_palettes(self):
        table = os.path.join(self.dir, "staging_color")
        write_parquet(pa.table({"igId": ["a", "b"], "colors": ["[1]", "[2]"]}), table)
        path = os.path.join(self.dir, "expected.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"a": "[1]", "b": "[2]"}, f)
        self.assertEqual(oracle.check_palettes(path, table), [])
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"a": "[1]", "b": "[3]"}, f)
        self.assertEqual(len(oracle.check_palettes(path, table)), 1)


if __name__ == "__main__":
    unittest.main()
