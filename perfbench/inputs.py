"""Seeded input generation for the benchmark workloads.

The same (workload, seed) always gives the same files: run.py draws
each workload's input set from seed % VARIANTS. recipe_dag gets
key-only copies of the tables the fixture corpus is derived from
(ReferenceCorpus maps every fixture line from one key column, so the
seed offsets the keys and the DuckDB oracles stay valid); the Java side
then writes the fixture tree from them. The curation workload gets a
synthetic documents table: a base corpus drawn from the seed, replicated
with a seed-salted suffix on every token so replicas share no shingle.
"""
import os
import random

import duckdb

# Bump when generated content changes: cached inputs are keyed on it.
VERSION = 3

# Input sets per workload; the seed picks one (seed % VARIANTS).
VARIANTS = 8

# Key-column row counts of the tables ReferenceCorpus derives its fixture
# families from. recipe_dag's DAG (the fft branch) reads only the customer
# family; ReferenceCorpus writes every family, so the others stay small.
RECIPE_TABLES = {"part": 500, "customer": 1500, "supplier": 100,
                 "events": 500, "orders": 500}
KEY_COLUMN = {"part": "p_partkey", "customer": "c_custkey",
              "supplier": "s_suppkey", "events": "event_id",
              "orders": "o_orderkey"}

# curation: base documents drawn from the seed, times replicas
CURATION_BASE_DOCS = 30
CURATION_REPLICAS = 4

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "en", "de", "fr", "es"]


def recipe_tables(out_dir, seed):
    """Key-only parquet tables; the seed offsets every key range. Every
    fixture value is a function of key residues with periods far below
    the table sizes, so the fixture files and groups keep their shape and
    only the values move."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    con = duckdb.connect()
    for table, n in RECIPE_TABLES.items():
        offset = rng.randrange(1, 1 << 30)
        path = os.path.join(out_dir, f"{table}.parquet")
        con.sql(f"COPY (SELECT CAST({offset} + i AS BIGINT) AS {KEY_COLUMN[table]} "
                f"FROM range({n}) t(i)) TO '{path}' (FORMAT parquet)")
    con.close()


def documents(out_dir, seed):
    """documents(doc_id, text, lang, source, n_chars); returns text bytes.

    Only the words come from the seed: document lengths, languages and
    the near-duplicate pairs (every tenth base document repeats the one
    before it plus a word) are fixed, so the dedup graph, and with it
    the work, has the same shape for every seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    base = []
    for i in range(CURATION_BASE_DOCS):
        if i % 10 == 9:
            base.append(base[-1] + " dup")
        else:
            base.append(" ".join(rng.choice(VOCAB) for _ in range(10 + (i * 37) % 91)))
    salt = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(2))
    rows = []
    for i, text in enumerate(base):
        for r in range(CURATION_REPLICAS):
            doc_id = i * CURATION_REPLICAS + r
            t = " ".join(f"{w}_{salt}{r}" for w in text.split(" "))
            rows.append((doc_id, t, LANGS[i % len(LANGS)], f"src{doc_id % 20}", len(t)))
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
            "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    path = os.path.join(out_dir, "documents.parquet")
    con.sql(f"COPY (SELECT * FROM documents ORDER BY doc_id) TO '{path}' (FORMAT parquet)")
    con.close()
    return sum(len(r[1].encode()) for r in rows)
