"""Seeded input generators for the benchmark.

Everything the program reads is written here, from the seed alone, without
any graft code: the change-log segments the CDC workloads replay or tail,
and the star-schema tables the query workload runs on. The same seed always
gives byte-identical inputs.
"""
import os

import duckdb
import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# change log

# payload field sets per schema era (graft's SchemaRegistry: v2 adds stars,
# v3 renames it to stargazers, v4 widens it)
_ERA_JSON = {
    1: "json_object('commit', commit, 'lang', lang, 'content', content)",
    2: "json_object('commit', commit, 'lang', lang, 'content', content, 'stars', stars)",
    3: "json_object('commit', commit, 'lang', lang, 'content', content, 'stargazers', stars)",
}
_TYPED_AFTER = ("struct_pack(commit := commit, lang := lang, content := content, "
                "stars := CASE WHEN v = 2 THEN stars END, "
                "stargazers := CASE WHEN v >= 3 THEN stars END)")
_TYPED_NULL = ("CAST(NULL AS STRUCT(commit VARCHAR, lang VARCHAR, content VARCHAR, "
               "stars BIGINT, stargazers BIGINT))")


def change_log(con, seed, events, repos, paths, dup_every=50, window=64):
    """Create view `log` of `events` logical change events (lsn 0..events-1)
    plus one redelivered duplicate every `dup_every` events, with a delivery
    position `pos` jittered by up to `window` events.

    Keys are (repo, path) with Zipf-skewed repos (repo id = floor(repos^u)).
    Ops are 5% deletes, 25% inserts, 70% updates. The schema era ramps
    1 -> 4 in equal quarters of the log.
    """
    h = lambda salt: f"hash({seed}, {salt}, lsn)"
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW logical AS
        SELECT lsn,
          'org/repo-' || CAST(floor(pow({repos}, ({h(1)} % 1000000000) / 1e9)) AS BIGINT) AS repo,
          'src/d' || ({h(4)} % 10) || '/file_' || ({h(2)} % {paths}) || '.scala' AS path,
          CASE WHEN {h(3)} % 100 < 5 THEN 'D' WHEN {h(3)} % 100 < 30 THEN 'I' ELSE 'U' END AS op,
          CAST(least(4, 1 + floor(lsn * 4.0 / {events})) AS INTEGER) AS v,
          to_timestamp(1700000000 + lsn + {h(5)} % 30 - 15) AS ts,
          lower(hex({h(7)})) AS commit,
          (['scala','python','rust','go','java','c','sql'])[CAST(1 + {h(6)} % 7 AS BIGINT)] AS lang,
          CAST({h(8)} % 100000 AS BIGINT) AS stars,
          '// module ' || lower(hex({h(9)})) || chr(10) ||
            repeat('// pad ' || lower(hex({h(10)})) || chr(10), 1 + CAST({h(11)} % 8 AS INTEGER)) AS content,
          lsn * 2 + CAST({h(12)} % {2 * window + 1} AS BIGINT) - {window} AS pos
        FROM range({events}) t(lsn)""")
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW log AS
        SELECT * FROM logical
        UNION ALL SELECT * REPLACE (pos + 1 AS pos) FROM logical WHERE lsn % {dup_every} = 0""")


def write_segments(con, out_dir, segments, typed):
    """Chunk view `log` by delivery position into `segments` parquet
    segment directories seg-NNNNN (one file each), in delivery order."""
    after = (f"CASE WHEN op = 'D' THEN NULL ELSE {_TYPED_AFTER} END" if typed else
             "CASE WHEN op = 'D' THEN NULL WHEN v = 1 THEN " + _ERA_JSON[1] +
             " WHEN v = 2 THEN " + _ERA_JSON[2] + " ELSE " + _ERA_JSON[3] + " END")
    before = _TYPED_NULL if typed else "CAST(NULL AS VARCHAR)"
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE delivered AS
        SELECT op, lsn, ts, v AS schemaVersion, repo, path, {before} AS before,
          CAST({after} AS {'STRUCT(commit VARCHAR, lang VARCHAR, content VARCHAR, stars BIGINT, stargazers BIGINT)' if typed else 'VARCHAR'}) AS after,
          CAST(floor((row_number() OVER (ORDER BY pos, lsn) - 1) * {segments}
                     / count(*) OVER ()) AS INTEGER) AS seg, pos
        FROM log""")
    for s in range(segments):
        d = os.path.join(out_dir, f"seg-{s:05d}")
        os.makedirs(d, exist_ok=True)
        con.execute(f"""COPY (SELECT * EXCLUDE (seg, pos) FROM delivered WHERE seg = {s} ORDER BY pos, lsn)
                        TO '{d}/part-0.parquet' (FORMAT PARQUET)""")
    con.execute("DROP TABLE delivered")


def reference_state(con, files):
    """Last-writer-wins fold of the segment `files`, without graft: the
    latest event per key by lsn, deletes dropped. Returns (rows, digest)
    over (repo, path, lsn, sha256(content))."""
    files = list(files)
    typed = "STRUCT" in con.execute(
        f"SELECT typeof(after) FROM read_parquet({files}) LIMIT 1").fetchone()[0]
    content = "after.content" if typed else "json_extract_string(after, '$.content')"
    return con.execute(f"""
        WITH latest AS (
          SELECT repo, path, arg_max(op, lsn) AS op, max(lsn) AS lsn,
                 arg_max({content}, lsn) AS content
          FROM read_parquet({files}) GROUP BY repo, path)
        SELECT count(*), {_DIGEST} FROM latest WHERE op <> 'D'""").fetchone()


# order-insensitive digest of a state: sum of per-row hashes (mod 2^64 via
# hugeint arithmetic, so the sum cannot overflow)
_DIGEST = ("CAST(coalesce(sum(CAST(hash(repo, path, lsn, sha256(content)) AS HUGEINT)), 0) "
           "% 18446744073709551616 AS UBIGINT)")


def state_digest(con, parquet_glob):
    """(rows, digest) of an exported table state with columns repo, path,
    lsn, content — the same digest as reference_state."""
    return con.execute(
        f"SELECT count(*), {_DIGEST} FROM read_parquet('{parquet_glob}')").fetchone()


# --------------------------------------------------------------------------
# star schema for the query surface

_WORDS = ("the stream query row sort hash batch dup data filter value big key order "
          "table scan merge part window join slow agg column a vector fast small "
          "spark group customer line").split()


def query_tables(out_dir, seed, lineitems=6000):
    """The ten tables the 67 queries read, one parquet file per table.

    `lineitems` sets the scale: 6000 rows is sf0.001. The shapes follow a
    profile of the sf0.001 tables graft's tests run on (README.md,
    "Query tables"): row counts, key ranges, value distributions, the
    31-word document vocabulary, a near-duplicate document in about 2.5%
    of documents, and unclustered unit embeddings with labels drawn apart
    from them."""
    rng = np.random.default_rng(seed)
    n_li = lineitems
    n_ord = n_li // 4
    n_cust = max(n_li // 40, 10)
    n_part = max(n_li // 30, 10)
    n_supp = max(n_li // 600, 10)
    n_ev = max(n_li // 6, 100)
    n_doc, n_emb = 500, 500
    os.makedirs(out_dir, exist_ok=True)

    def put(name, df):
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    def days(lo, hi, n):
        base = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - base).astype(int)
        return (base + rng.integers(0, span, n)).astype("datetime64[us]")

    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    put("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    put("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)}))
    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    adj = ["small", "large", "red", "blue", "cold", "hot", "old", "new"]
    noun = ["ring", "widget", "bolt", "anvil", "plate", "gear", "rod", "gizmo"]
    put("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)}))
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": days("1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)}))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", "2001-11-05", n_li)}))
    put("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(n_ev // 66, 5), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.025:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    put("documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)}))
