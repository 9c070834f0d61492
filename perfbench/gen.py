"""Seeded input generator for the benchmark (DuckDB).

Builds the three tables the workloads read -- events, documents and
embeddings -- with the schemas of the graft test tables, then applies
the replication scheme of tools/make_scaleup_fixture.py: replica r > 0 of a
row gets an id offset, documents get an appended token, embeddings a small
coordinate shift and events a value jitter.

As in that script, the base rows are one fixed table: they are drawn from
BASE_SEED, whatever the run's seed. The run's seed drives the replication:
the id offsets, the appended tokens, the vector shifts and the value
jitter. So another seed gives an unseen input of the same shape, size and
amount of work; a seed that also redrew the base rows would change how much
work the per-series fits and the clustering do (with sf 0.004 there are
only 60 base series), and that would show as spread between runs rather
than as a change in the program. Every random choice is a hash of (seed,
row, stream), so one seed gives the same rows whatever the thread count.

Replica 0 keeps the base ids (0..n-1): graft's queries select slices such as
doc_id < 250 or vec_id < 10, and those must stay populated.

Each table is written as a directory `<table>.parquet/` of several files,
like a real table, so scans split into several tasks without any scan-split
override.
"""
import json
import os
import shutil

import duckdb

FILES_PER_TABLE = 8
BASE_SEED = 42             # the base rows; the run's seed drives replication

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("es", "zh", "de", "fr")


def sizes(sf):
    """Base row counts at scale factor `sf`: the graft test tables' counts,
    with documents and embeddings floored at 250 rows."""
    return {
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        # graft's queries split documents at doc_id 250 and embeddings at
        # vec_id 50, so neither table goes below 250 rows
        "documents": max(250, round(50_000 * sf)),
        "embeddings": max(250, round(20_000 * sf)),
    }


def _u(seed, stream, *cols):
    """Uniform [0, 1) double from a hash of (seed, stream, cols)."""
    args = ", ".join([str(seed), str(stream)] + list(cols))
    return f"((hash({args}) >> 11)::DOUBLE / 9007199254740992.0)"


def _events(con, seed, sf, reps):
    n, users = sizes(sf)["events"], sizes(sf)["users"]
    step = 30 * 86400 * 1_000_000 / n          # 30 days of microseconds
    types = "['view', 'click', 'purchase', 'signup', 'error']"
    off = seed % 1000
    con.execute(f"""
      CREATE TEMP TABLE base_events AS
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' + to_microseconds(
               CAST(floor((i + {_u(BASE_SEED, 1, 'i')}) * {step}) AS BIGINT)) AS ts,
             CAST(floor({_u(BASE_SEED, 2, 'i')} * {users}) AS BIGINT) AS user_id,
             {types}[1 + CAST(floor({_u(BASE_SEED, 3, 'i')} * 5) AS INT)] AS event_type,
             round(-50.0 * ln(1.0 - {_u(BASE_SEED, 4, 'i')}), 2) AS value,
             '{{"k": ' || CAST(floor({_u(BASE_SEED, 5, 'i')} * 100) AS BIGINT) || '}}' AS props
      FROM range({n}) t(i)""")
    con.execute(f"""
      CREATE TEMP TABLE events AS
      SELECT event_id + r * (100000000 + {off}) AS event_id, ts,
             user_id + r * (1000000 + {off}) AS user_id, event_type,
             CASE WHEN r = 0 THEN value
                  ELSE round(value + r * 0.01
                             + 0.001 * floor({_u(seed, 6, 'event_id', 'r')} * 10), 3)
             END AS value,
             props
      FROM base_events, range({reps}) rr(r)""")


def _documents(con, seed, sf, reps):
    n = sizes(sf)["documents"]
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    langs = "[" + ", ".join(f"'{w}'" for w in LANGS) + "]"
    con.execute(f"""
      CREATE TEMP TABLE raw_docs AS
      SELECT i AS doc_id,
             array_to_string(list_transform(
               range(10 + CAST(floor({_u(BASE_SEED, 11, 'i')} * 91) AS BIGINT)),
               j -> {vocab}[1 + CAST(floor(((hash({BASE_SEED}, 12, i, j) >> 11)::DOUBLE
                                             / 9007199254740992.0) * {len(VOCAB)}) AS INT)]),
               ' ') AS text,
             -- about 5% of documents are planted near-duplicates of an
             -- earlier one, as in the test tables (their 'dup' token)
             CASE WHEN i > 0 AND {_u(BASE_SEED, 13, 'i')} < 0.05
                  THEN CAST(floor({_u(BASE_SEED, 14, 'i')} * i) AS BIGINT) END AS dup_of,
             CASE WHEN {_u(BASE_SEED, 15, 'i')} < 0.4 THEN 'en'
                  ELSE {langs}[1 + CAST(floor({_u(BASE_SEED, 16, 'i')} * 4) AS INT)] END AS lang,
             'src' || (i % 20) AS source
      FROM range({n}) t(i)""")
    con.execute("""
      CREATE TEMP TABLE base_docs AS
      SELECT d.doc_id,
             CASE WHEN d.dup_of IS NULL THEN d.text ELSE o.text || ' dup' END AS text,
             d.lang, d.source
      FROM raw_docs d LEFT JOIN raw_docs o ON o.doc_id = d.dup_of""")
    off = seed % 1000
    con.execute(f"""
      CREATE TEMP TABLE documents AS
      SELECT doc_id + r * (1000000 + {off}) AS doc_id, text, lang, source,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM (SELECT doc_id, r,
                   CASE WHEN r = 0 THEN text
                        ELSE text || ' rep' || r || 'x' || {seed % 997} END AS text,
                   lang, source
            FROM base_docs, range({reps}) rr(r))""")


def _embeddings(con, seed, sf, reps):
    n = sizes(sf)["embeddings"]
    # Box-Muller normals, normalised to unit length (unclustered, as in the
    # test tables); replicas are shifted by r * shift in every coordinate
    normal = (f"sqrt(-2.0 * ln(1.0 - ((hash({BASE_SEED}, 21, i, j) >> 11)::DOUBLE / 9007199254740992.0)))"
              f" * cos(2 * pi() * ((hash({BASE_SEED}, 22, i, j) >> 11)::DOUBLE / 9007199254740992.0))")
    con.execute(f"""
      CREATE TEMP TABLE base_emb AS
      SELECT i AS vec_id, list_transform(range(64), j -> {normal}) AS v,
             CAST(floor({_u(BASE_SEED, 23, 'i')} * 10) AS INTEGER) AS label
      FROM range({n}) t(i)""")
    shift = 0.001 * (1.0 + (seed % 7) / 7.0)
    off = seed % 1000
    con.execute(f"""
      CREATE TEMP TABLE embeddings AS
      SELECT vec_id + r * (1000000 + {off}) AS vec_id,
             CAST(list_transform(v, x -> x / norm + r * {shift}) AS FLOAT[]) AS embedding,
             label
      FROM (SELECT vec_id, v, label, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
            FROM base_emb), range({reps}) rr(r)""")


BUILDERS = {"events": _events, "documents": _documents, "embeddings": _embeddings}
ORDER_BY = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}


def generate(out_dir, tables, seed, sf, reps):
    """Write `tables` for (seed, sf, reps) under out_dir; return row counts.

    The directory is reused when it already holds a complete set."""
    manifest = os.path.join(out_dir, "rows.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    rows = {}
    for t in tables:
        BUILDERS[t](con, seed, sf, reps)
        n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        rows[t] = n
        tdir = os.path.join(tmp, f"{t}.parquet")
        os.makedirs(tdir)
        # contiguous slices in id order, one file each
        for k in range(FILES_PER_TABLE):
            lo, hi = n * k // FILES_PER_TABLE, n * (k + 1) // FILES_PER_TABLE
            con.execute(f"""
              COPY (SELECT * FROM {t} ORDER BY {ORDER_BY[t]} LIMIT {hi - lo} OFFSET {lo})
              TO '{tdir}/part-{k:05d}.parquet' (FORMAT PARQUET)""")
    con.close()
    with open(os.path.join(tmp, "rows.json"), "w") as f:
        json.dump(rows, f)
    os.rename(tmp, out_dir)
    return rows
