"""Output checks that run outside the JVM: a DuckDB recomputation of the
scanpy recipe's per-gene statistics from the generated counts."""
import json
from pathlib import Path

import duckdb

RECIPE_SQL = """
with c as (select i, j, v from read_parquet('{counts}/*.parquet')),
rs as (select i, sum(v) as s from c group by i),
lg as (select c.i, c.j, ln(1 + round(c.v / rs.s, 6) * 10000) as v
       from c join rs using (i)),
st as (select j, sum(v) as s, count(*) as n, sum(v * v) as ss from lg group by j),
ranked as (select j, s, n, ss,
           round((ss - s * s / {n_cells}) / {n_cells}, 6) as var from st),
kept as (select * from ranked order by var desc, j limit {k}),
scaled as (select lg.j,
           round((lg.v - kept.s / kept.n)
                 / sqrt(greatest((kept.ss - kept.s * kept.s / kept.n) / kept.n, 0)), 6) as v
           from lg join kept using (j))
select j, count(*) as n, sum(v) as s, sum(v * v) as ss,
       (select var from kept k2 where k2.j = scaled.j) as var,
       (select min(var) from kept) as cutoff
from scaled group by j order by j
"""


def expected_stats(input_dir):
    truth = json.loads((Path(input_dir) / "truth.json").read_text())
    sql = RECIPE_SQL.format(counts=Path(input_dir) / "counts.parquet",
                            n_cells=float(truth["n_cells"]), k=truth["k"])
    con = duckdb.connect()
    try:
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return {int(j): (int(n), s, ss, var, cut) for j, n, s, ss, var, cut in rows}


def compare(want, got_rows):
    """Two checks: the kept gene set (ties at the cutoff tolerated) and the
    per-gene count / sum / sum of squares of the standardized values."""
    got = {int(j): (int(n), s, ss) for j, n, s, ss in got_rows}
    cutoff = next(iter(want.values()))[4] if want else 0.0
    diff = set(want) ^ set(got)
    tie_only = all(j in want and abs(want[j][3] - cutoff) <= 1e-6 for j in diff - set(got))
    msgs = []
    if diff and not (tie_only and len(got) == len(want)):
        msgs.append(f"kept genes differ from DuckDB: {sorted(diff)[:8]}")
    bad = [j for j in set(want) & set(got)
           if got[j][0] != want[j][0]
           or abs(got[j][1] - want[j][1]) > 1e-6 * want[j][0] + 1e-6
           or abs(got[j][2] - want[j][2]) > 1e-6 * want[j][0] + 1e-6]
    if bad:
        j = sorted(bad)[0]
        msgs.append(f"gene stats differ from DuckDB for {len(bad)} genes, e.g. {j}: "
                    f"graft {got[j]} duckdb {want[j][:3]}")
    return msgs


def check_scanpy(input_dir, checks_dir):
    """Returns (attempted, failed, messages) over every pass's gene stats."""
    want = expected_stats(input_dir)
    attempted, failed, msgs = 0, 0, []
    for f in sorted(Path(checks_dir).glob("pass-*-gene_stats.json")):
        m = compare(want, json.loads(f.read_text()))
        attempted += 2
        failed += len(m)
        msgs += [f"{f.name}: {x}" for x in m]
    return attempted, failed, msgs


def selftest_scanpy(input_dir, out_dir):
    """The DuckDB check passes on graft's real stats and rejects two
    corruptions of them."""
    want = expected_stats(input_dir)
    rows = json.loads((Path(out_dir) / "gene_stats.json").read_text())
    ok = not compare(want, rows)
    print(f"selftest scanpy_recipe: duckdb check on clean stats: {'pass' if ok else 'FAIL'}")
    shifted = [list(r) for r in rows]
    shifted[0][2] += 0.5
    for what, bad in (("gene_sum_shifted", shifted), ("gene_dropped", rows[1:])):
        rejected = bool(compare(want, bad))
        print(f"selftest scanpy_recipe: corrupt {what} -> "
              f"{'rejected by duckdb_gene_stats' if rejected else 'NOT rejected'}")
        ok = ok and rejected
    return ok
