"""Seeded inputs of the curation_versions workload, written with DuckDB.

Every value is a function of (seed, row id, slot) through DuckDB's
`hash`, so the same seed gives the same files. `documents` and `events`
mirror the engine's test tables (same columns, types and value
distributions), so the registered queries and their DuckDB oracles run
on them unchanged. (The pharma feed is built on Spark executors from
`PharmaFixture.recordJson`; see PharmaE2E.generate.)"""
import os

import duckdb

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window"]
SIZES = {"bench": dict(base=2000, appends=4, per_append=100, docs=200, events=2000),
         "tiny": dict(base=1000, appends=3, per_append=50, docs=60, events=2000)}


def _h(seed, *parts):
    """Hash of (seed, parts) as a non-negative BIGINT."""
    return f"(hash({seed}, {', '.join(map(str, parts))}) % 9007199254740992)::BIGINT"


def _u(seed, *parts):
    """Uniform DOUBLE in [0, 1)."""
    return f"({_h(seed, *parts)}::DOUBLE / 9007199254740992)"


def documents(seed, n):
    """10-100 words from a 30-word vocabulary; 5% are a near-duplicate
    (another document's text plus " dup")."""
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    return f"""
      WITH d AS (SELECT range AS id, {_h(seed, 'range', -3)} % 100 < 5 AS dup FROM range({n})),
      b AS (SELECT id, dup, CASE WHEN dup THEN {_h(seed, 'id', -2)} % {n} ELSE id END AS base FROM d),
      t AS (SELECT id, base, dup, {_h(seed, 'id', -4)} % 100 AS l FROM b)
      SELECT id AS doc_id,
        array_to_string(list_transform(range(0, 10 + {_h(seed, 'base', -1)} % 91),
          j -> {vocab}[1 + {_h(seed, 'base', 'j')} % {len(VOCAB)}]), ' ')
          || CASE WHEN dup THEN ' dup' ELSE '' END AS text,
        CASE WHEN l < 41 THEN 'en' WHEN l < 56 THEN 'de' WHEN l < 71 THEN 'fr'
             WHEN l < 86 THEN 'es' ELSE 'zh' END AS lang,
        'src' || (id % 20) AS source,
        length(text)::BIGINT AS n_chars
      FROM t"""


def events(seed, n, users=1500):
    """Time-ordered over 30 days, exponential values (mean 50), `props` a
    one-key JSON object; `ts` a TIMESTAMP without zone."""
    step = 30 * 86400 * 1000000 // n
    return f"""
      SELECT range AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(range * {step} + {_h(seed, 'range', 1)} % {step}) AS ts,
        {_h(seed, 'range', 2)} % {users} AS user_id,
        ['click', 'error', 'purchase', 'signup', 'view'][1 + {_h(seed, 'range', 3)} % 5] AS event_type,
        round(-ln(1 - {_u(seed, 'range', 4)}) * 50, 2) AS value,
        '{{"k": ' || ({_h(seed, 'range', 5)} % 100) || '}}' AS props
      FROM range({n})"""


def commit_batches(seed, base, appends, per_append):
    """A base batch, `appends` batches of new keys, and two merge batches
    (updates, deletes flagged by `__delete`, fresh inserts). Keys are a
    seeded bijection of the row id, so they are distinct."""
    def rows(lo, hi, tag):
        return f"""SELECT ((range * 2654435761 + {seed * 7919}) & {(1 << 40) - 1}) AS k,
            ({_h(seed, 'range', 11)} % 16)::INTEGER AS grp,
            round({_u(seed, 'range', 12)} * 1000, 3) AS val,
            'b{tag}-' || ({_h(seed, 'range', 13)} % 1000000) AS note
          FROM range({lo}, {hi})"""

    def merge(lo, hi, fresh_lo, tag):
        return f"""SELECT k, grp, val + 1 AS val, note, r < 5 AS __delete, 'merge_{tag - 30}' AS batch
          FROM (SELECT *, {_h(seed, 'k', 20 + tag)} % 100 AS r FROM ({rows(lo, hi, tag)}))
          WHERE r < 15
          UNION ALL SELECT *, false, 'merge_{tag - 30}' FROM ({rows(fresh_lo, fresh_lo + per_append, tag)})"""

    top = base + appends * per_append
    parts = [f"SELECT *, false AS __delete, 'base' AS batch FROM ({rows(0, base, 0)})"]
    parts += [f"SELECT *, false, 'append_{i:02d}' FROM "
              f"({rows(base + (i - 1) * per_append, base + i * per_append, i)})"
              for i in range(1, appends + 1)]
    parts += [merge(0, base, top, 31), merge(base, top, top + per_append, 32)]
    return " UNION ALL ".join(f"({p})" for p in parts)


def curation_versions(out, seed, size):
    """Writes documents.parquet/, events.parquet/ and batches/batch=<name>/
    under `out`."""
    s = SIZES[size]
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, sql in (("documents", documents(seed, s["docs"])), ("events", events(seed, s["events"]))):
        os.makedirs(os.path.join(out, f"{name}.parquet"))
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet/part-0.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY ({commit_batches(seed, s['base'], s['appends'], s['per_append'])}) "
                f"TO '{out}/batches' (FORMAT PARQUET, PARTITION_BY (batch))")
    con.close()
