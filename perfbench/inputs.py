"""Seeded benchmark inputs: the documents behind the `pages` table and
the generated ruleset of the `rules_sparse` workload.

Documents come from ``data/documents.parquet``, a copy of the sf0.1
``documents.parquet`` test table (5000 documents, doc ids 0..4999),
kept here so a run reads nothing outside its checkout.  The seed picks
one of ``SLICES`` slices: a run of consecutive doc ids (wrapping round
the corpus) whose start moves by a prime stride from one slice to the
next.  ``pages.pages_cte`` derives domain, ``warc_epoch`` and the
appended triggers from the doc id and replica number, so another slice
also gives other domains and another timeline.  Every seed maps to a
slice, and every slice has pinned reference counts.
"""

from __future__ import annotations

import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")
SLICES = 32
SLICE_STRIDE = 1013  # doc ids between the starts of two neighbouring slices


def slice_of(seed: int) -> int:
    return seed % SLICES


def sparse_ruleset_text(slice_idx: int, n_rules: int) -> str:
    """Ungated rules in the `rules.synth` vocabulary, shaped so that
    only a small share can fire on any one page.

    Three in four rules probe dead vocabulary (a content term that no
    page holds); every fourth is a `port` pcre rule that fires on one
    band of 100 live port numbers.  The slice picks the terms and the
    bands, never the mix, so every slice asks the same amount of work.
    No rule carries after, threshold or xbits options, so the gate
    layer has nothing to do."""
    rng = random.Random(slice_idx * 7919 + 1)
    base_sid = 6_000_000 + slice_idx * 10_000
    lines = []
    for i in range(n_rules):
        if i % 4 != 3:
            opt = f'content:"term{rng.randrange(100_000)}x";'
        else:
            # pages carry `port 1024`..`port 6023`: bands 11xx..59xx are live
            band = rng.randrange(11, 60)
            opt = f'content:"port "; pcre:"/port {band}[0-9]{{2}}/";'
        lines.append(
            f'alert syslog any any -> any any (msg:"sparse {i}"; {opt} '
            f'classtype:web-anomaly; sink:"fast"; sid:{base_sid + i};)'
        )
    return "\n".join(lines)


def duck_connect(slice_idx: int, n_docs: int, spill_dir: str):
    """DuckDB connection with a `documents` view over one slice of
    ``n_docs`` documents, spilling into the benchmark's own directory."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='3GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    total = con.execute(f"SELECT count(*) FROM '{DOCUMENTS}'").fetchone()[0]
    start = slice_idx * SLICE_STRIDE % total
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{DOCUMENTS}' "
        f"WHERE (doc_id - {start} + {total}) % {total} < {n_docs}"
    )
    return con


def write_pages(con, out_dir: str, rep: int, n_files: int) -> int:
    """Materialize the `pages` table as parquet, range-laid-out on
    `warc_epoch` like ``pages.pages_table`` does.  The rows come from
    ``pages.pages_cte``, the DuckDB twin of ``pages.load_pages`` (the
    repo's parity test pins the two to identical rows).  Returns the
    page count."""
    from sagan_spark.pages import BASE_EPOCH, SPAN_S, pages_cte

    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE pages AS
        SELECT url, domain, CAST(warc_epoch AS BIGINT) AS warc_epoch,
               to_timestamp(CAST(warc_epoch AS BIGINT)) AS warc_ts,
               encode('<html><body>' || text || '</body></html>') AS html,
               text, lang, source, doc_id, CAST(rep AS BIGINT) AS rep
        FROM ({pages_cte(rep)})"""
    )
    os.makedirs(out_dir, exist_ok=True)
    step = -(-SPAN_S // n_files)
    for k in range(n_files):
        lo = BASE_EPOCH + k * step
        con.execute(
            f"COPY (SELECT * FROM pages WHERE warc_epoch >= {lo} AND warc_epoch < {lo + step} "
            f"ORDER BY warc_epoch, url) TO '{out_dir}/part-{k:05d}.parquet' (FORMAT parquet)"
        )
    return con.execute("SELECT count(*) FROM pages").fetchone()[0]

