"""Scale-parity sweep: the full oracle selfcheck at 10x driver scale.

``tools/selfcheck.py`` at sf0.01 is the driver mimic; this harness
re-runs every query at a larger SF (default sf0.1) to catch
scale-sensitive bugs (sketch mode switches, sum-order drift, window
state) — the class the r4 sweep caught in ``hll_partial_rollup``.

The quadratic-oracle dedup family (minhash_near_dup, dedup_clusters,
dedup_clusters_star, cluster_canonical_docs) shares one DuckDB
bottleneck: the exact-Jaccard pair source ``sh a JOIN sh b ON
a.doc_id < b.doc_id`` — O(n²) shingle-list intersections, minutes at
sf0.1 while the engine side takes seconds. Rather than exclude them
(the r4 gap), the sweep pre-filters the ORACLE's pair source with the
engine's own LSH candidate set (the ``minhash_accuracy`` trick): the
candidates are landed as a DuckDB table and the self-join is
rewritten to an indexed candidate join. This verifies the exact-
verify + clustering math at 10x scale; candidate RECALL is separately
gated by ``minhash_accuracy``'s estimator bound and the planted-pair
pytest suite (banding miss prob ~1e-9 per planted pair).

The candidate restriction alone would be one-sided — a banding
regression that silently DROPS true near-dup pairs would restrict
the oracle to the same broken candidate set and still "match". The
sweep therefore also runs an exact-recall anchor check: a
deterministic ~3% md5-sample of doc ids is exhaustively joined
against the ENTIRE corpus (O(B·n), bounded at any corpus size, no
candidate pruning anywhere) and every true near-dup pair touching
the sample is compared pair-for-pair, jaccard value included,
against the engine's output. A planted pair the banding misses
fails the sweep.

The table cache is not cleared between queries: a caller's cached
view is held there (selfcheck's ``hold_cached_view``), and a query
that leaves a cached relation behind or drops that view fails with a
LEAK line, so a leaking query shows instead of being hidden. Each
query runs through ``Query.run``, which releases its stage boundaries
once its rows are collected; a query that still leaves a persistent
RDD fails with a LEAK line too.

Every oracle also runs under a wall-clock budget (default 180 s,
``con.interrupt()`` on expiry) so one pathological oracle can never
stall the sweep.

Usage: python tools/parity_sweep.py [sf_dir] [query ...]
Writes PARITY_SWEEP.json next to the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.selfcheck import (  # noqa: E402
    _norm,
    cache_leftovers,
    collected,
    hold_cached_view,
    leftovers,
    persistent_rdds,
    value_hash,
)

from __spark_entry__ import oracle_sql  # noqa: E402
from yahoofinancedatalake_spark.queries.pack import QUERIES  # noqa: E402
from yahoofinancedatalake_spark.schemas import TESTDATA_TABLES  # noqa: E402
from yahoofinancedatalake_spark.session import boundary_scope, get_spark  # noqa: E402

#: Queries whose oracle output is candidate-insensitive (the pair
#: source is filtered to near-dups downstream) — the rewrite is only
#: sound for these. ngram_jaccard_pairs shares the join text but
#: EMITS every pair in its 40-doc block, so restricting it would
#: change the answer; it stays on its (already bounded) raw oracle.
_REWRITE_QUERIES = {
    "minhash_near_dup",
    "dedup_clusters",
    "dedup_clusters_star",
    "cluster_canonical_docs",
    # the composed-pipeline gate embeds the dedup_clusters jac CTE
    # over quality-gated exact survivors; LSH candidates over the
    # full corpus are a sound superset of that subset's candidates
    # (banding is pairwise — a pair's buckets don't depend on the
    # rest of the corpus)
    "prep_stage_counts",
    # same CTE prefix, same argument (r9 incremental gate)
    "incremental_prep_counts",
    # same CTE prefix over the %4 subset (r9 streaming rung 12) —
    # full-corpus LSH candidates are a sound superset of the subset's
    # (banding is pairwise), and the jac consumers filter downstream
    "stream_incremental_prep_batch_eq",
    # r12: same jac CTE prefix (the paragraph-composed gate inserts
    # its stage AFTER the near-dup survivors, so the pair source and
    # its downstream filtering are identical to prep_stage_counts)
    "prep_stage_counts_paragraph",
}
#: The quadratic pair source shared by the dedup-family oracles …
_QUADRATIC_JOIN = "FROM sh a JOIN sh b ON a.doc_id < b.doc_id"
#: … and its candidate-restricted rewrite (engine LSH pairs,
#: id_a < id_b by construction).
_CANDIDATE_JOIN = (
    "FROM swp_cand c JOIN sh a ON a.doc_id = c.id_a "
    "JOIN sh b ON b.doc_id = c.id_b"
)

ORACLE_BUDGET_SECS = float(os.environ.get("SWEEP_ORACLE_BUDGET", "180"))


def _load_candidates(spark, sf_dir: str, con) -> int:
    """Engine LSH candidate pairs → DuckDB table ``swp_cand``."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table
    from yahoofinancedatalake_spark.operators.dedup import minhash_lsh_pairs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    with boundary_scope():
        cand = minhash_lsh_pairs(
            docs, "text", "doc_id", n_hashes=32, n_bands=8, shingle_n=3
        ).toPandas()
    con.register("swp_cand_df", cand)
    con.execute(
        "CREATE OR REPLACE TABLE swp_cand AS SELECT * FROM swp_cand_df"
    )
    return len(cand)


def _run_oracle(con, sql: str):
    """Execute with a wall-clock budget; interrupt past it.

    The interrupt is guarded by a done-flag under a lock: without it,
    a timer firing between fetchall() returning and timer.cancel()
    would land a stray con.interrupt() on the shared connection and
    poison the NEXT statement.
    """
    lock = threading.Lock()
    done = [False]

    def _interrupt():
        with lock:
            if not done[0]:
                con.interrupt()

    timer = threading.Timer(ORACLE_BUDGET_SECS, _interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        cols = list(rel.columns)
        rows = rel.fetchall()
        return cols, rows, None
    except Exception as e:  # noqa: BLE001
        return None, None, f"{type(e).__name__}: {e}"[:300]
    finally:
        with lock:
            done[0] = True
        timer.cancel()


#: md5(doc_id) two-hex-digit prefix below this → anchor doc (~3%).
_ANCHOR_PREFIX = os.environ.get("SWEEP_ANCHOR_PREFIX", "08")


def _block_recall_check(spark, sf_dir: str, con, oracles) -> dict:
    """Exact recall check: every true near-dup pair with at least one
    endpoint in the md5-sampled anchor set, from an UNPRUNED anchor ×
    corpus join, vs the engine's pairs touching the same anchors."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    anchor = (
        f"substr(md5(doc_id::VARCHAR), 1, 2) < '{_ANCHOR_PREFIX}'"
    )
    sql = oracles["minhash_near_dup"].replace(
        _QUADRATIC_JOIN,
        f"FROM (SELECT * FROM sh WHERE {anchor}) a "
        "JOIN sh b ON a.doc_id <> b.doc_id",
    )
    t0 = time.time()
    # same wall-clock budget as every other oracle: the unpruned
    # anchor x corpus join is the sweep's most expensive statement
    # and must not be the one place that can stall it
    _cols, rows, err = _run_oracle(con, sql)
    if err is not None:
        return {
            "status": f"oracle_error: {err}",
            "anchor_prefix": _ANCHOR_PREFIX,
        }
    want = {
        (min(r[0], r[1]), max(r[0], r[1]), round(float(r[2]), 6))
        for r in rows
    }
    oracle_secs = round(time.time() - t0, 2)

    def in_anchor(col):
        return F.substring(F.md5(F.col(col).cast("string")), 1, 2) < (
            F.lit(_ANCHOR_PREFIX)
        )

    def anchor_pairs(df) -> set:
        return {
            (r.id_a, r.id_b, round(float(r.jaccard), 6))
            for r in df.filter(in_anchor("id_a") | in_anchor("id_b")).collect()
        }

    got = QUERIES["minhash_near_dup"].run(spark, sf_dir, anchor_pairs)
    missed, extra = want - got, got - want
    status = "ok" if not missed and not extra else "mismatch"
    rec = {
        "status": status,
        "anchor_prefix": _ANCHOR_PREFIX,
        "n_anchor_pairs": len(want),
        "oracle_secs": oracle_secs,
        "missed_by_engine": sorted(missed)[:10],
        "extra_in_engine": sorted(extra)[:10],
    }
    if status == "ok":
        print(
            f"ok    __lsh_anchor_recall ({len(want)} unpruned anchor "
            f"pairs, engine recall exact, {oracle_secs}s oracle)"
        )
    else:
        print(
            f"FAIL  __lsh_anchor_recall: missed={len(missed)} "
            f"extra={len(extra)}"
        )
    return rec


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    spark = get_spark("parity_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = oracle_sql()
    n_cand = _load_candidates(spark, sf_dir, con)
    print(f"candidate table: {n_cand} LSH pairs at {sf_dir}")
    hold_cached_view(spark)

    results: dict[str, dict] = {}
    failed = []
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        before = {"persistent RDDs": persistent_rdds(spark)}
        t0 = time.time()
        rec: dict = {"sweep_oracle": False}
        try:
            scols, srows = q.run(spark, sf_dir, collected)
        except Exception as e:  # noqa: BLE001
            rec.update(status="spark_error", err=str(e)[:300])
            results[name] = rec
            failed.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            continue
        finally:
            after = {"persistent RDDs": persistent_rdds(spark)}
            leak = "; ".join(
                filter(None, (leftovers(before, after), cache_leftovers(spark)))
            )
        if leak:
            rec.update(status="leak", err=leak)
            results[name] = rec
            failed.append(name)
            print(f"LEAK  {name}: left {leak}")
            continue
        rec["spark_secs"] = round(time.time() - t0, 2)
        if name not in oracles:
            rec.update(status="rows_only", rows=len(srows))
            results[name] = rec
            flag = "" if srows else " (ZERO ROWS)"
            if not srows:
                failed.append(name)
            print(f"ok*   {name}: rows-only ({len(srows)} rows){flag}")
            continue
        sql = oracles[name]
        if name in _REWRITE_QUERIES and _QUADRATIC_JOIN in sql:
            sql = sql.replace(_QUADRATIC_JOIN, _CANDIDATE_JOIN)
            rec["sweep_oracle"] = True
        t1 = time.time()
        ocols, orows, err = _run_oracle(con, sql)
        rec["oracle_secs"] = round(time.time() - t1, 2)
        if err:
            rec.update(status="oracle_error", err=err)
            results[name] = rec
            failed.append(name)
            print(f"FAIL  {name}: oracle: {err[:200]}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append(f"value hash {sh} != {oh}")
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted(
                    "|".join(_norm(r[i]) for i in order) for r in srows
                )
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                oset = sorted(
                    "|".join(_norm(r[i]) for i in oorder) for r in orows
                )
                for a, b in zip(sset, oset):
                    if a != b:
                        problems.append(
                            f"first diff: spark={a[:120]} oracle={b[:120]}"
                        )
                        break
        if problems:
            rec.update(status="mismatch", detail="; ".join(problems))
            results[name] = rec
            failed.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            rec.update(status="ok", rows=len(srows))
            results[name] = rec
            tag = " [sweep-oracle]" if rec["sweep_oracle"] else ""
            print(
                f"ok    {name} ({len(srows)} rows, "
                f"{rec['spark_secs']}s spark"
                + (f", {rec.get('oracle_secs')}s oracle" if 'oracle_secs' in rec else "")
                + f"){tag}"
            )

    if not only or "minhash_near_dup" in only:
        rec = _block_recall_check(spark, sf_dir, con, oracles)
        results["__lsh_anchor_recall"] = rec
        if rec["status"] != "ok":
            failed.append("__lsh_anchor_recall")

    n_run = len(results)
    summary = {
        "sf_dir": sf_dir,
        "n_run": n_run,
        "n_failed": len(failed),
        "failed": failed,
        "results": results,
    }
    if not only:
        with open(os.path.join(REPO, "PARITY_SWEEP.json"), "w") as f:
            json.dump(summary, f, indent=1)
        print("wrote PARITY_SWEEP.json")
    print(f"\n{n_run - len(failed)}/{n_run} passed"
          + ("" if n_run == len(QUERIES) else f" (of {len(QUERIES)} registered)"))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
