"""Seeded inputs for the catalog workloads, and their expected answers.

The corpus follows the shape of the repo's `documents` table: texts of
10-100 tokens drawn uniformly from a 30-word vocabulary, a skewed language
mix, 20 sources, about 5% near-duplicates (a copy of another document plus
one word) and about 1% exact copies.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def documents(seed, n):
    rng = np.random.default_rng(seed)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
             for _ in range(n)]
    ids = np.arange(10, n)
    for i in rng.choice(ids, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(ids, size=n // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(dir_, seed, n):
    Path(dir_).mkdir(parents=True, exist_ok=True)
    pq.write_table(documents(seed, n), str(Path(dir_) / "documents.parquet"))


# The oracles tokenize with this expression, several times per row inside
# a shingle lambda; DuckDB evaluates each occurrence for every list element
# (quadratic in document length: minutes for q144 at 1000 documents).
TOKENIZE = "regexp_extract_all(lower(text), '[a-z0-9]+')"
TOKENS_COL = "_perfbench_tokens"


def share_tokenizer(sql):
    """The same query with the repeated tokenizer read from a column that
    the `documents` view computes once per row. Every occurrence reads the
    `documents` row's own `text`, so the answer is unchanged."""
    if sql.count(TOKENIZE) < 2:
        return sql, False
    return sql.replace(TOKENIZE, TOKENS_COL), True


def oracle_answer(docs_dir, sql, out_path):
    """Run the query's oracle SQL in DuckDB over the generated table."""
    import duckdb
    sql, shared = share_tokenizer(sql)
    con = duckdb.connect()
    con.execute("SET temp_directory = '%s'" % (Path(out_path).parent / "duckdb_tmp"))
    con.execute("CREATE VIEW documents AS SELECT *%s FROM '%s'" % (
        ", %s AS %s" % (TOKENIZE, TOKENS_COL) if shared else "",
        Path(docs_dir) / "documents.parquet"))
    con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, out_path))
    con.close()
