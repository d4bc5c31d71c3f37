"""Expected outputs computed without the program, and checks against them.

The transcripts oracle reads the generated parquet with DuckDB and applies
the flagship schema's draft-4 semantics directly in SQL; it never looks at
the program's code or output while computing. The near-dup oracle is the
survivor set the generator planted (gen.corpus).
"""

import glob
import os

import duckdb

# (column, constraint) -> SQL predicate that is TRUE for a violating row,
# written from the schema in flagship.json. A NULL value only violates
# `required`; `dependencies` of tool on role fires when tool is set and
# role is not.
CHECKS = {
    ("conv_id", "required"): "conv_id IS NULL",
    ("conv_id", "minLength"): "length(conv_id) < 1",
    ("conv_id", "pattern"): "NOT regexp_matches(conv_id, '^c[0-9]+$')",
    ("turn_idx", "required"): "turn_idx IS NULL",
    ("turn_idx", "minimum"): "turn_idx < 0",
    ("turn_idx", "maximum"): "turn_idx > 4096",
    ("role", "required"): "role IS NULL",
    ("role", "enum"): "role NOT IN ('system', 'user', 'assistant', 'tool')",
    ("text", "required"): "text IS NULL",
    ("text", "maxLength"): "length(text) > 65536",
    ("tool", "pattern"): "NOT regexp_matches(tool, '^[a-z][a-z0-9_]*$')",
    ("ts", "required"): "ts IS NULL",
    ("tool", "dependencies"): "tool IS NOT NULL AND role IS NULL",
}
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _src(files):
    return "read_parquet([" + ", ".join(f"'{f}'" for f in sorted(files)) + "])"


def table(files):
    """Expected outputs of one validation run over `files`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    src = _src(files)
    sums = ", ".join(f"coalesce(sum(({p})::INT), 0)" for p in CHECKS.values())
    nulls = ", ".join(f"count(*) - count({c})" for c in COLUMNS)
    row = con.execute(f"SELECT count(*), {sums}, {nulls} FROM {src}").fetchone()
    rows, vios, null_counts = row[0], row[1:1 + len(CHECKS)], row[1 + len(CHECKS):]
    violations = {f"{c}/{k}": n for (c, k), n in zip(CHECKS, vios) if n}
    dup_keys, dup_rows = con.execute(
        f"SELECT count(*), coalesce(sum(n), 0) FROM (SELECT count(*) AS n FROM {src} "
        f"GROUP BY conv_id, turn_idx HAVING count(*) > 1)").fetchone()
    orphans = con.execute(
        f"SELECT count(*) FROM {src} t ANTI JOIN "
        f"(SELECT DISTINCT conv_id FROM {src} WHERE turn_idx = 0) r USING (conv_id)").fetchone()[0]
    con.close()
    return dict(rows=rows, violations=violations, row_violations=sum(violations.values()),
                dup_keys=dup_keys, dup_rows=int(dup_rows), orphan_rows=orphans,
                nulls=dict(zip(COLUMNS, null_counts)))


def _parquet(path):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return _src(files) if files else None


def check_table_run(expected, out_dir, exit_code, stdout, stderr, units):
    """Mismatches between one CLI run's outputs and `expected`; [] if none."""
    e = expected
    bad = []
    dirty = e["row_violations"] + e["dup_keys"] + e["orphan_rows"] > 0
    if exit_code != (2 if dirty else 0):
        bad.append(f"exit code {exit_code}")
    verdict = (f"{e['row_violations']} row violations, {e['dup_keys']} duplicate keys, "
               f"{e['orphan_rows']} orphan rows")
    if dirty and verdict not in stderr:
        bad.append(f"verdict line lacks '{verdict}'")
    if f"processed {units} pending units" not in stdout:
        bad.append(f"expected {units} pending units")
    con = duckdb.connect()
    try:
        src = _parquet(f"{out_dir}/violations")
        got = {} if src is None else {
            f"{c}/{k}": n for c, k, n in con.execute(
                f"SELECT regexp_extract(pointer, '[^/]*$'), \"constraint\", count(*) "
                f"FROM {src} GROUP BY ALL").fetchall()}
        if got != e["violations"]:
            bad.append(f"violations {got} != {e['violations']}")
        src = _parquet(f"{out_dir}/uniqueness_violations")
        dup = (0, 0) if src is None else con.execute(
            f"SELECT count(*), coalesce(sum(dup_count), 0) FROM {src}").fetchone()
        if tuple(dup) != (e["dup_keys"], e["dup_rows"]):
            bad.append(f"duplicate keys/rows {tuple(dup)} != {(e['dup_keys'], e['dup_rows'])}")
        src = _parquet(f"{out_dir}/referential_violations")
        orph = 0 if src is None else con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        if orph != e["orphan_rows"]:
            bad.append(f"orphan rows {orph} != {e['orphan_rows']}")
        src = _parquet(f"{out_dir}/stats")
        stats = {} if src is None else {
            c: (n, nn) for c, n, nn in con.execute(
                f"SELECT \"column\", cnt, null_count FROM {src}").fetchall()}
        want = {c: (e["rows"], e["nulls"][c]) for c in COLUMNS}
        if stats != want:
            bad.append(f"stats {stats} != {want}")
    finally:
        con.close()
    return bad


def check_survivors(planted, call):
    """A nearDupSurvivors result fingerprint against the planted set."""
    want = (len(planted), sum(planted), sum(i * i for i in planted))
    got = (call["count"], call["sum"], call["sumsq"])
    return [] if got == want else [f"survivors (count, sum, sumsq) {got} != {want}"]
