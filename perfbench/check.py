"""Output checks that run.py makes after the JVM has exited.

Each check returns a list of failure messages (empty = passed). The
references are independent of the program: DuckDB replays the oracle SQL
over the same generated tables, and the pipeline invariants are
recomputed in DuckDB from the corpus and the written outputs.
"""
import glob
import os
import re
import subprocess
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def query_oracle(data_dir, dump_dir):
    """tools/check_oracle.py over one round's dumps: {key: message}."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         data_dir, dump_dir], capture_output=True, text=True)
    fails = {}
    for line in p.stdout.splitlines():
        m = re.match(r"FAIL (\S+): (.*)", line)
        if m:
            fails[m.group(1)] = m.group(2)
    if p.returncode != 0 and not fails:
        fails["check_oracle"] = (p.stdout + p.stderr).strip()[-500:]
    return fails


def _fingerprint(col):
    return f"md5(lower(regexp_replace({col}, '\\s+', ' ', 'g')))"


def pipeline(corpus_dir, out_dir, budget_frac=0.6):
    """PipelineRun's output invariants; a list of failure messages."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM "
                f"read_parquet('{corpus_dir}/documents.parquet')")
    con.execute(f"CREATE VIEW manifest AS SELECT * FROM "
                f"read_parquet('{out_dir}/manifest.parquet/*.parquet')")
    ledger = con.execute(
        f"SELECT stage, docs_in, docs_kept, docs_dropped, tokens_in, "
        f"tokens_kept FROM read_parquet('{out_dir}/ledger.parquet/*.parquet')"
    ).fetchall()
    errs = []
    n_corpus = con.execute("SELECT count(*) FROM corpus").fetchone()[0]
    if ledger[0][1] != n_corpus:
        errs.append(f"ledger: ingest saw {ledger[0][1]} of {n_corpus} docs")
    for st, d_in, d_kept, d_drop, _, _ in ledger:
        if d_in != d_kept + d_drop:
            errs.append(f"ledger: {st} docs_in {d_in} != kept {d_kept} "
                        f"+ dropped {d_drop}")
    for prev, nxt in zip(ledger, ledger[1:]):
        if nxt[1] != prev[2] or nxt[4] != prev[5]:
            errs.append(f"ledger: {nxt[0]} input != {prev[0]} output")
    stages = {row[0]: row for row in ledger}
    n_out, tok_out = con.execute(
        "SELECT count(*), coalesce(sum(tok), 0) FROM manifest").fetchone()
    if (n_out, tok_out) != (stages["pack"][2], stages["pack"][5]):
        errs.append(f"manifest has {n_out} docs / {tok_out} tokens, the "
                    f"ledger's pack stage {stages['pack'][2]} / "
                    f"{stages['pack'][5]}")
    tb = stages["token_budget"]
    if tb[5] > int(budget_frac * tb[4]):
        errs.append(f"token_budget kept {tb[5]} tokens over the budget "
                    f"{int(budget_frac * tb[4])}")
    con.execute("CREATE VIEW survivors AS SELECT c.* FROM corpus c "
                "JOIN manifest m USING (doc_id)")
    dup = con.execute(
        f"SELECT count(*) - count(DISTINCT {_fingerprint('text')}) "
        f"FROM survivors").fetchone()[0]
    if dup:
        errs.append(f"{dup} survivors share a normalized-text fingerprint")
    grams = ("SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3), "
             "i -> array_to_string(ws[i:i + 4], ' '))) AS gram FROM "
             "(SELECT doc_id, string_split(text, ' ') AS ws FROM {})")
    shared = con.execute(
        f"SELECT count(DISTINCT s.doc_id) FROM ({grams.format('survivors')}) s "
        f"JOIN ({grams.format('corpus WHERE doc_id % 50 = 0')}) b USING (gram)"
    ).fetchone()[0]
    if shared:
        errs.append(f"{shared} survivors share a 5-gram with the bench split")
    return errs


def drop_dump_row(dump_dir, key):
    """Fault injection for the checker's own test: lose one result row."""
    import pyarrow.parquet as pq
    path = sorted(glob.glob(os.path.join(dump_dir, key, "*.parquet")))[0]
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)


def resurrect_doc(corpus_dir, out_dir):
    """Fault injection: put back one doc that exact dedup dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    m = f"read_parquet('{out_dir}/manifest.parquet/*.parquet')"
    row = con.execute(
        f"SELECT m.* REPLACE (c2.doc_id AS doc_id) FROM {m} m "
        f"JOIN read_parquet('{corpus_dir}/documents.parquet') c1 USING (doc_id) "
        f"JOIN read_parquet('{corpus_dir}/documents.parquet') c2 "
        f"ON {_fingerprint('c1.text')} = {_fingerprint('c2.text')} "
        f"AND c1.doc_id <> c2.doc_id "
        f"WHERE c2.doc_id NOT IN (SELECT doc_id FROM {m}) LIMIT 1"
    ).fetch_arrow_table()
    schema = pq.read_schema(glob.glob(f"{out_dir}/manifest.parquet/*.parquet")[0])
    pq.write_table(row.cast(schema),
                   f"{out_dir}/manifest.parquet/part-resurrected.parquet")
