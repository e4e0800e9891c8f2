"""Seeded input tables for the benchmark workloads.

The documents are drawn from ``data/documents.parquet``, a copy of the
repository's sf0.1 ``documents`` table (5,000 documents: doc_id, text,
lang, source, n_chars), so texts, lengths, language shares, near copies and
exact duplicates are the real table's.

Work per run must not depend on the seed, so every seed gets the same
documents on the same sides; the seed only shuffles the row order of each
file. The content is fixed because it moves the work: on link_classic one
A/B split ran 9.0 s where three others ran 7.1-7.6 s in the same JVM,
and the LSH pair count of near_dup_x4 moved
between 1.26M and 1.71M with the letter permutations of the replicas (it
hangs on a few large MinHash buckets).

The sample keeps the table's language shares and draws each group of
documents with byte-identical text whole (with the sample's share of the
table as its chance, and at least one group, so the near-duplicate check
always has a case to check). Each language is split into fixed halves for
sides A and B. Replica ``i > 0`` passes every text through a fixed letter
permutation, which keeps the replica's internal structure and makes the
replicas disjoint from one another.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                     "documents.parquet")
KEY_CHARS = 48
SAMPLE_SEED = 0  # draws the sample, the A/B split and the letter permutations
REPLICA_IDS = 1_000_000  # replica r owns doc ids [r * REPLICA_IDS, (r + 1) * REPLICA_IDS)
COLUMNS = ("doc_id", "text", "lang", "source")


def load_table() -> dict:
    return pq.read_table(TABLE, columns=list(COLUMNS)).to_pydict()


def _lang_targets(langs: list, n_docs: int) -> dict:
    """Documents per language in a sample of ``n_docs``: the table's shares,
    rounded so they sum to ``n_docs``."""
    names = sorted(set(langs))
    exact = {lang: langs.count(lang) * n_docs / len(langs) for lang in names}
    out = {lang: int(v) for lang, v in exact.items()}
    for lang in sorted(names, key=lambda k: out[k] - exact[k])[: n_docs - sum(out.values())]:
        out[lang] += 1
    return out


def sample(table: dict, n_docs: int) -> list[int]:
    """Row indices of the sample: exactly the per-language counts of
    ``_lang_targets``, identical-text groups drawn whole."""
    rng = np.random.default_rng([SAMPLE_SEED, 7])
    groups: dict[str, list[int]] = {}
    for i, text in enumerate(table["text"]):
        groups.setdefault(text, []).append(i)
    dups = [g for g in groups.values() if len(g) > 1]
    share = n_docs / len(table["text"])
    picked = [g for g in dups if rng.random() < share]
    if dups and not picked:
        picked = [dups[int(rng.integers(len(dups)))]]
    need = _lang_targets(table["lang"], n_docs)
    taken = [i for g in picked for i in g]
    for i in taken:
        need[table["lang"][i]] -= 1
    singles = [g[0] for g in groups.values() if len(g) == 1]
    for i in (singles[j] for j in rng.permutation(len(singles))):
        lang = table["lang"][i]
        if need[lang] > 0:
            need[lang] -= 1
            taken.append(i)
    return taken


def _split(table: dict, rows: list[int]) -> tuple[list, list]:
    """Each language's sampled rows, shuffled and halved: A gets the floor."""
    rng = np.random.default_rng([SAMPLE_SEED, 11])
    a, b = [], []
    for lang in sorted({table["lang"][i] for i in rows}):
        mine = sorted(i for i in rows if table["lang"][i] == lang)
        mine = [mine[j] for j in rng.permutation(len(mine))]
        a += sorted(mine[: len(mine) // 2])
        b += sorted(mine[len(mine) // 2:])
    return a, b


def _permute_letters(texts: list[str], rng: np.random.Generator) -> list[str]:
    letters = string.ascii_lowercase
    table = str.maketrans(letters, "".join(letters[i] for i in rng.permutation(26)))
    return [t.translate(table) for t in texts]


def _side(table: dict, rows: list[int], replica: int) -> pa.Table:
    texts = [table["text"][i] for i in rows]
    if replica > 0:
        texts = _permute_letters(texts, np.random.default_rng([SAMPLE_SEED, replica, 26]))
    return pa.table({
        "doc_id": pa.array([replica * REPLICA_IDS + table["doc_id"][i] for i in rows],
                           pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([table["lang"][i] for i in rows], pa.string()),
        "source": pa.array([table["source"][i] for i in rows], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_inputs(out_dir: str, seed: int, n_docs: int, replicas: int) -> dict:
    """Write ``a.parquet``, ``b.parquet`` and ``docs.parquet`` (A then B)
    for ``replicas`` replicas of the sample, rows shuffled by ``seed``;
    return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    table = load_table()
    rows_a, rows_b = _split(table, sample(table, n_docs))
    ta = pa.concat_tables([_side(table, rows_a, r) for r in range(replicas)])
    tb = pa.concat_tables([_side(table, rows_b, r) for r in range(replicas)])
    rng = np.random.default_rng([seed, 13])
    paths = {name: os.path.join(out_dir, f"{name}.parquet")
             for name in ("a", "b", "docs")}
    for name, t in (("a", ta), ("b", tb), ("docs", pa.concat_tables([ta, tb]))):
        pq.write_table(t.take(rng.permutation(t.num_rows)), paths[name])
    return paths


def input_stats(paths: dict) -> dict:
    """Rows, distinct keys per block, candidate pairs (distinct within-block
    key pairs) and the largest block's share of the block pairs, counted by
    DuckDB straight from the files: an oracle independent of the program
    under test."""
    import duckdb

    con = duckdb.connect()
    try:
        a, b = paths["a"], paths["b"]
        key = f"substr(text, 1, {KEY_CHARS})"
        per_block = con.execute(f"""
            WITH ka AS (SELECT DISTINCT lang, {key} AS k FROM read_parquet('{a}')),
                 kb AS (SELECT DISTINCT lang, {key} AS k FROM read_parquet('{b}')),
                 na AS (SELECT lang, count(*) AS n FROM ka GROUP BY lang),
                 nb AS (SELECT lang, count(*) AS n FROM kb GROUP BY lang)
            SELECT na.lang, na.n, nb.n FROM na JOIN nb USING (lang)
            ORDER BY na.lang""").fetchall()
        # classic counts a key pair that meets in several blocks once; the
        # two-pass histogram counts it per block and leaves out exact matches
        distinct = con.execute(f"""
            WITH ka AS (SELECT DISTINCT lang, {key} AS k FROM read_parquet('{a}')),
                 kb AS (SELECT DISTINCT lang, {key} AS k FROM read_parquet('{b}'))
            SELECT count(*) FROM (SELECT DISTINCT ka.k, kb.k
                                  FROM ka JOIN kb ON ka.lang = kb.lang)""").fetchone()[0]
        exact = con.execute(f"""
            WITH ka AS (SELECT DISTINCT lang, {key} AS k FROM read_parquet('{a}')),
                 kb AS (SELECT DISTINCT lang, {key} AS k FROM read_parquet('{b}'))
            SELECT count(*) FROM ka JOIN kb
              ON ka.lang = kb.lang AND lower(ka.k) = lower(kb.k)""").fetchone()[0]
        rows = con.execute(
            f"SELECT count(*) FROM read_parquet('{paths['docs']}')").fetchone()[0]
        rows_a = con.execute(f"SELECT count(*) FROM read_parquet('{a}')").fetchone()[0]
        dup_groups = con.execute(f"""
            SELECT list(doc_id ORDER BY doc_id) FROM read_parquet('{paths['docs']}')
            GROUP BY text HAVING count(*) > 1 ORDER BY 1""").fetchall()
    finally:
        con.close()
    pairs = {lang: na * nb for lang, na, nb in per_block}
    total = sum(pairs.values())
    return {
        "rows": rows,
        "rows_a": rows_a,
        "keys_a": {lang: na for lang, na, _ in per_block},
        "keys_b": {lang: nb for lang, _, nb in per_block},
        "candidate_pairs": distinct,
        "block_pairs": total,
        "exact_key_pairs": exact,
        "largest_block_share": max(pairs.values()) / total if total else 0.0,
        "identical_text_groups": [g[0] for g in dup_groups],
    }
