"""Correctness checks of one run, outside every timed pass.

Each check returns (attempted, failed, notes): one attempt per output a
pass produced. Every pass's output must carry the same fingerprint as
the last pass's, and the last pass's output must match its reference:
- dump_tfidf: the repo's DuckDB twins of Q6 (TF-IDF, read back through
  `CompatIo.readRefCsv`) and Q2 (dictionary), over the dump parsed by
  the `wiki_parse_scale` twin, compared by the canonical hash of
  `tools/check_oracle.py`;
- curate_corpus: the `pipe_curate` twin, plus the planted duplicates:
  the larger id of a planted pair never survives.
"""
import ast
import glob
import hashlib
import json
import os

import duckdb

def canon_of(root):
    """`canon` of tools/check_oracle.py, the repo's canonical row hash,
    loaded without running that script's compare (whose diff of a
    mismatch is quadratic in the rows)."""
    path = os.path.join(root, "tools", "check_oracle.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {"hashlib": hashlib}
    exec(compile(ast.Module([fn], []), path, "exec"), ns)
    return ns["canon"]


def oracle(root, sf_dir, check_dir):
    """Compare each engine output under `check_dir` with its DuckDB twin
    over the tables in `sf_dir`, as tools/check_oracle.py does: name ->
    matched (rows, hash and column names)."""
    canon = canon_of(root)
    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        twins = json.load(f)
    ok, notes = {}, ""
    for name, sql in sorted(twins.items()):
        parts = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        sdf = con.sql(f"SELECT * FROM read_parquet({parts!r})").df()
        odf = con.sql(sql).df()
        (sn, sh, srows), (on, oh, orows) = canon(sdf), canon(odf)
        ok[name] = ((sn, sh) == (on, oh) and
                    sorted(sdf.columns) == sorted(odf.columns))
        notes += (f"{name}: rows {sn} vs {on}, "
                  f"{'MATCH' if ok[name] else 'MISMATCH'}\n")
        if not ok[name]:
            s, o = set(srows), set(orows)
            notes += (f"  engine-only: {sorted(s - o)[:3]}\n"
                      f"  oracle-only: {sorted(o - s)[:3]}\n")
    return ok, notes


def parsed_documents(dump, parse_sql, out_parquet):
    """The dump parsed by the `wiki_parse_scale` twin, as the `documents`
    table the Q2/Q6 twins read. The twin renders its lines from a
    documents table; here its `lines` CTE reads the dump files instead."""
    head, sep, rest = parse_sql.partition("\n)\n")
    if not head.startswith("WITH lines AS (") or not sep:
        raise ValueError("unexpected wiki_parse_scale twin shape")
    sql = ("WITH lines AS (SELECT value FROM (SELECT unnest(string_split("
           f"content, chr(10))) AS value FROM read_text('{dump}')) "
           "WHERE value <> '')\n" + rest)
    duckdb.connect().execute(
        f"COPY (SELECT doc_id, body AS text FROM ({sql})) "
        f"TO '{out_parquet}' (FORMAT PARQUET)")


def _fingerprint_failures(passes, part):
    """Passes whose output `part` differs from the last pass's."""
    last = passes[-1]["fingerprint"].split("|")[part]
    return sum(p["fingerprint"].split("|")[part] != last for p in passes)


def check_dump_tfidf(root, inp, out, res):
    sf = os.path.join(out, "oracle_in")
    os.makedirs(sf, exist_ok=True)
    with open(os.path.join(out, "check", "wiki_parse_scale.sql")) as f:
        parsed_documents(os.path.join(inp, "dump", "*"), f.read(),
                         os.path.join(sf, "documents.parquet"))
    ok, text = oracle(root, sf, os.path.join(out, "check"))
    passes = res["passes"]
    failed = 0
    for part, name in enumerate(("q6_tfidf", "q2_dictionary")):
        failed += (len(passes) if not ok.get(name)
                   else _fingerprint_failures(passes, part))
    return 2 * len(passes), failed, text


def check_curate(root, inp, out, res, truth):
    sf = os.path.join(out, "oracle_in")
    os.makedirs(sf, exist_ok=True)
    duckdb.connect().execute(
        "COPY (SELECT * FROM read_parquet('"
        f"{os.path.join(inp, 'docs', '*.parquet')}')) "
        f"TO '{os.path.join(sf, 'documents.parquet')}' (FORMAT PARQUET)")
    ok, text = oracle(root, sf, os.path.join(out, "check"))
    kept = {r[0] for r in duckdb.connect().execute(
        "SELECT doc_id FROM read_parquet(?)",
        [os.path.join(out, "check", "pipe_curate", "*.parquet")]).fetchall()}
    planted = [b for a, b in truth["clone_pairs"] + truth["near_dup_pairs"]]
    survived = [d for d in planted if d in kept]
    passes = res["passes"]
    if not ok.get("pipe_curate") or survived:
        failed = len(passes)
    else:
        failed = _fingerprint_failures(passes, 0)
    notes = text + f"planted duplicates surviving: {survived}\n"
    return len(passes), failed, notes


def check(workload, root, inp, out, res):
    """(attempted, failed, notes) of one run."""
    if workload == "dump_tfidf":
        return check_dump_tfidf(root, inp, out, res)
    with open(os.path.join(inp, "truth.json")) as f:
        return check_curate(root, inp, out, res, json.load(f))
