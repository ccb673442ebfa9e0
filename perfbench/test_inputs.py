"""Tests for the generated inputs and the oracle's shared tokenizer.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import tempfile
import unittest
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

import inputs

# q144's oracle shape: shingles built with the tokenizer repeated in a lambda
SHINGLE_SQL = """WITH t AS (SELECT doc_id, list_distinct(list_transform(
    range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+'))-1),
    i -> regexp_extract_all(lower(text), '[a-z0-9]+')[i] || ' ' ||
         regexp_extract_all(lower(text), '[a-z0-9]+')[i+1])) AS sh
    FROM documents)
    SELECT doc_id, len(sh) AS n, sh[1] AS first FROM t ORDER BY doc_id"""


class DocumentsTest(unittest.TestCase):
    def test_same_seed_same_table(self):
        self.assertTrue(inputs.documents(7, 300).equals(inputs.documents(7, 300)))
        self.assertFalse(inputs.documents(7, 300).equals(inputs.documents(8, 300)))

    def test_shape(self):
        t = inputs.documents(3, 2000).to_pydict()
        self.assertEqual(t["doc_id"], list(range(2000)))
        self.assertEqual(t["n_chars"], [len(x) for x in t["text"]])
        self.assertGreater(sum(x.endswith(" dup") for x in t["text"]), 80)
        self.assertLess(len(set(t["text"])), 2000)  # exact copies exist


class SharedTokenizerTest(unittest.TestCase):
    def test_rewrite_gives_the_same_answer(self):
        with tempfile.TemporaryDirectory() as d:
            inputs.write_documents(d, 11, 150)
            inputs.oracle_answer(d, SHINGLE_SQL, str(Path(d) / "shared.parquet"))
            con = duckdb.connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM '%s'"
                        % (Path(d) / "documents.parquet"))
            con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)"
                        % (SHINGLE_SQL, Path(d) / "plain.parquet"))
            shared = pq.read_table(str(Path(d) / "shared.parquet"))
            plain = pq.read_table(str(Path(d) / "plain.parquet"))
            self.assertTrue(shared.equals(plain))
            self.assertEqual(shared.num_rows, 150)

    def test_single_use_is_left_alone(self):
        sql = "SELECT regexp_extract_all(lower(text), '[a-z0-9]+') FROM documents"
        self.assertEqual(inputs.share_tokenizer(sql), (sql, False))


if __name__ == "__main__":
    unittest.main()
