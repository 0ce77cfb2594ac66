"""Seeded input generators. The program under test only ever sees the
files (or fetcher payloads) these functions produce; the same seed gives
byte-identical inputs."""

from __future__ import annotations

import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Token vocabulary, categorical domains and ranges of the star schema the
# catalog queries were written against (its literals: regions, segments,
# event types, the 8x8 part-name grid, ...).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "old", "red", "small", "green", "cold"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(lo_d, hi_d + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 90, n)
    flat = rng.choice(len(VOCAB), int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(VOCAB[j] for j in flat[offs[i]:offs[i + 1]]) for i in range(n)]


def documents_table(rng, n: int) -> pa.Table:
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def catalog_tables(out_dir: str, seed: int) -> None:
    """The ten catalog tables at the sf0.001 row counts (500 documents
    and embeddings), one ``<name>.parquet`` each."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_vec = (
        150, 10, 200, 1500, 6000, 1000, 500, 500)
    i32 = pa.int32()
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.sort(rng.integers(
                np.datetime64("2024-01-01", "us").astype(np.int64),
                np.datetime64("2024-01-31", "us").astype(np.int64), n_ev)),
                pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}),
    }
    centroids = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centroids[labels] + rng.normal(0, 0.1, (n_vec, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    documents(out_dir, rng, n_doc)


def documents(out_dir: str, rng, n_docs: int) -> None:
    """``documents.parquet`` drawn with ``tools/gen_sf1.py``'s document
    model: token frequencies, lengths and sources learned from a uniform
    seed corpus, plus its Heaps-law tail of corpus-unique tokens."""
    import duckdb
    from tools import gen_sf1

    seed_dir = os.path.join(out_dir, "seed_corpus")
    os.makedirs(seed_dir)
    pq.write_table(documents_table(rng, n_docs), os.path.join(seed_dir, "documents.parquet"))
    gen_sf1.SRC, gen_sf1.OUT, gen_sf1.N_DOCS = seed_dir, out_dir, n_docs
    con = duckdb.connect()
    try:
        gen_sf1.gen_documents(con, rng)
    finally:
        con.close()


def curation_documents(out_dir: str, seed: int, n_docs: int) -> set[tuple[int, int]]:
    """A corpus drawn with :func:`documents`, then salted with exact
    duplicates (case and whitespace variants) and near duplicates (one
    token changed), 1/12 of the corpus each. Rewrites
    ``documents.parquet`` and returns the (original, near-duplicate) doc
    id pairs."""
    rng = np.random.default_rng(seed)
    n_base = round(n_docs * 5 / 6)
    documents(out_dir, rng, n_base)
    path = os.path.join(out_dir, "documents.parquet")
    base = pq.read_table(path).to_pydict()
    texts, srcs, langs = base["text"], base["source"], base["lang"]
    near: list[tuple[int, int]] = []
    for k, i in enumerate(rng.choice(len(texts), n_docs - len(texts), replace=False)):
        words = texts[i].split(" ")
        if k % 2 == 0:
            text = "  ".join(words)
            text = text.upper() if k % 4 == 0 else text
        else:
            j = int(rng.integers(len(words)))
            words[j] = "zz" + words[j]
            text = " ".join(words)
            near.append((int(i), len(texts)))
        texts.append(text)
        srcs.append(srcs[i])
        langs.append(langs[i])
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    pq.write_table(pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [srcs[i] for i in order],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    }), path, row_group_size=1000)
    return {tuple(sorted((int(new_id[a]), int(new_id[b])))) for a, b in near}


_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def _name_part(rng, syllables: int) -> str:
    return "".join(
        _CONS[rng.integers(len(_CONS))] + _VOWELS[rng.integers(len(_VOWELS))]
        + ("n" if rng.random() < 0.3 else "")
        for _ in range(syllables)).capitalize()


def _variant(rng, name: str) -> str:
    """One spelling variant of a canonical author name, of the kinds a
    package index accumulates: case, spacing, a surname typo, a middle
    initial."""
    given, family = name.split(" ", 1)
    kind = rng.integers(4)
    if kind == 0:
        return name.lower()
    if kind == 1:
        return f"{given}  {family}"
    if kind == 2:
        i = int(rng.integers(1, len(family)))
        return f"{given} {family[:i]}{rng.choice(list(string.ascii_lowercase))}{family[i + 1:]}"
    return f"{given} {rng.choice(list(string.ascii_uppercase))}. {family}"


def pypi_corpus(seed: int, n_packages: int) -> tuple[dict[str, dict], dict[str, int]]:
    """PyPI ``info`` payloads keyed by package name, and the ground truth
    author string -> entity id. Given names are unique per entity, so
    entities are distinguishable; 30% of packages spell their author as a
    variant of the canonical name, 5% have no author, and 5% of
    requirements name a package that does not exist (dangling)."""
    rng = np.random.default_rng(seed)
    n_auth = max(1, n_packages // 4)
    given: set[str] = set()
    while len(given) < n_auth:
        given.add(_name_part(rng, int(rng.integers(2, 4))))
    canon = [f"{g} {_name_part(rng, int(rng.integers(2, 4)))}" for g in sorted(given)]
    names = [f"pkg-{_name_part(rng, 3).lower()}-{i}" for i in range(n_packages)]
    licenses = ["MIT", "BSD", "Apache-2.0", "GPL-3.0", "MPL-2.0"]
    truth: dict[str, int] = {}
    packages: dict[str, dict] = {}
    for i, pkg in enumerate(names):
        author = None
        if rng.random() >= 0.05:
            e = int(rng.integers(n_auth))
            author = canon[e] if rng.random() >= 0.3 else _variant(rng, canon[e])
            truth[author] = e
        reqs = []
        for _ in range(int(rng.integers(0, 5))):
            if rng.random() < 0.05:
                reqs.append(f"missing-{rng.integers(10**6)}>=1.0")
            else:
                dep = names[int(rng.integers(n_packages))]
                reqs.append(dep + rng.choice(["", ">=1.0", " (>=2.1)", "[extra]"]))
        packages[pkg] = {
            "name": pkg, "author": author,
            "license": licenses[int(rng.integers(len(licenses)))],
            "requires_dist": reqs or None,
        }
    return packages, truth


def stream_batches(seed: int, n_batches: int, rows: int) -> list[pa.Table]:
    """Event batches; 10% of each batch after the first replays event ids
    landed earlier (with the same payload, as a replaying source would)."""
    rng = np.random.default_rng(seed)
    out: list[pa.Table] = []
    landed: list[dict] = []
    next_id = 0
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    for b in range(n_batches):
        n_replay = rows // 10 if b else 0
        fresh = rows - n_replay
        batch = {
            "event_id": list(range(next_id, next_id + fresh)),
            "user_id": rng.integers(0, 500, fresh).tolist(),
            "event_type": rng.choice(EVENT_TYPES, fresh).tolist(),
            "ts": (t0 + rng.integers(0, 30 * _DAY_US, fresh)).tolist(),
            "value": np.round(rng.exponential(50.0, fresh) + 0.01, 2).tolist(),
        }
        next_id += fresh
        for i in rng.choice(len(landed), n_replay, replace=False) if n_replay else []:
            for k, v in landed[i].items():
                batch[k].append(v)
        landed.extend(
            {k: batch[k][i] for k in batch} for i in range(fresh))
        tbl = pa.table({
            "event_id": pa.array(batch["event_id"], pa.int64()),
            "user_id": pa.array(batch["user_id"], pa.int64()),
            "event_type": batch["event_type"],
            "ts": pa.array(batch["ts"], pa.timestamp("us")),
            "value": pa.array(batch["value"], pa.float64()),
        })
        out.append(tbl)
    return out
