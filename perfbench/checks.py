"""Output checks, made apart from the program: exact counts from DuckDB
over the same parquet files, plus properties every estimate must have.

A check is ``(name, ok, detail)``; a run is correct when all pass.
"""

from __future__ import annotations

import math

from scardina_spark.benchmarks import duckdb_connection, duckdb_truths

from harness import percentile, q_error
from workloads import HOLD_PERMILLE, held_sql, hold_expr

# Median q-error ceilings: several times what the method reaches on these
# inputs (README "Reference figures"), and below what an estimator that
# is off by 4x on every query would reach.
QERROR_P50_CEILING = {"jl-cin": 2.0, "jm-ur": 2.0}


def count(con, sql: str) -> int:
    return int(con.sql(sql).fetchone()[0])


def tree_join_count(con, tree, root: str) -> int:
    """COUNT(*) of the tree's join walked outward from ``root`` with left
    outer joins: a root row with no match on an edge counts once, the
    null-extension convention of the weighted sampler."""
    sql = f"SELECT COUNT(*) FROM {root}"
    for _, child, rel in tree.join_tree(root):
        sql += (f" LEFT JOIN {child} ON {rel.pk_table}.{rel.pk_col}"
                f" = {rel.fk_table}.{rel.fk_col}")
    return count(con, sql)


def estimate_checks(run) -> list[tuple[str, bool, str]]:
    bad = [(n, e) for p in run.passes for n, e in p.items()
           if not (math.isfinite(e) and e >= 0)]
    finals = run.passes[-2:]
    same = all(p == finals[0] for p in finals)
    return [
        ("estimates_finite_nonnegative", not bad, f"{len(bad)} bad"
         + (f", first {bad[0]}" if bad else "")),
        ("final_passes_identical", same,
         f"{len(finals)} passes over the final estimator"),
    ]


def qerror_check(run, truth: dict[str, float]) -> tuple[list, list]:
    qs = [q_error(e, truth[n]) for n, e in run.final.items()]
    ceiling = QERROR_P50_CEILING[run.workload]
    p50 = percentile(qs, 50) if qs else math.inf
    return qs, [("qerror_p50_ceiling", p50 <= ceiling,
                 f"median q-error {p50:.4f} <= {ceiling}")]


def check_jl_cin(run) -> tuple[list, list]:
    con = duckdb_connection(run.data_dir)
    out = []
    base = count(con, f"SELECT COUNT(*) FROM lineitem WHERE NOT "
                      f"({held_sql(run.seed)})")
    out.append(("heldout_split_matches", base == run.facts["base_rows"],
                f"spark {run.facts['base_rows']} duckdb {base} "
                f"(held: {hold_expr(run.seed)} < "
                f"{HOLD_PERMILLE})"))
    for root, size in run.facts["cin_join_sizes"].items():
        want = base if root == "lineitem" else count(
            con, f"SELECT COUNT(*) FROM {root}")
        out.append((f"join_size_{root}", size == want,
                    f"sample {size} duckdb {want}"))
    full = count(con, "SELECT COUNT(*) FROM lineitem")
    out.append(("refreshed_join_size", run.facts["refreshed_join_size"]
                == full, f"sample {run.facts['refreshed_join_size']} "
                f"duckdb {full}"))
    n = run.facts["lineitem_n_sample"]
    out.append(("refreshed_sample_rows",
                run.facts["refreshed_n_sample"] == n
                and run.facts["refreshed_local_rows"] == n,
                f"n_sample {run.facts['refreshed_n_sample']} local "
                f"{run.facts['refreshed_local_rows']} configured {n}"))
    out += estimate_checks(run)
    qs, qc = qerror_check(run, duckdb_truths(run.data_dir,
                                             run.final_queries))
    return qs, out + qc


def check_jm_ur(run) -> tuple[list, list]:
    con = duckdb_connection(run.data_dir)
    con.execute("CREATE VIEW shipments AS SELECT * FROM "
                f"read_parquet('{run.facts['shipments_path']}/*.parquet')")
    size = run.facts["jm_join_size"]
    want = tree_join_count(con, run.facts["jm_tree"], "shipments")
    out = [("join_size_shipments", size == want,
            f"sample {size} duckdb {want}")]
    out += estimate_checks(run)
    qs, qc = qerror_check(run, {n: float(count(con, sql))
                                for n, sql in run.final_queries.items()})
    return qs, out + qc


def run_checks(run) -> tuple[list, list]:
    """(final-pass q-errors, checks) for the run's workload."""
    if run.workload == "jl-cin":
        return check_jl_cin(run)
    return check_jm_ur(run)
