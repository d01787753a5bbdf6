"""One measurement tool for the engine's registered queries.

    python scripts/measure.py time Q... [--sf DIR ...] [--runs N] [--root DIR]
    python scripts/measure.py plans --out DIR --tag T Q... [--sf DIR] [--root DIR]
    python scripts/measure.py plans --plans-md [Q...] [--sf DIR] [--root DIR]
    python scripts/measure.py profile Q... [--sf DIR] [--root DIR]
    python scripts/measure.py ab --a DIR --b DIR Q... [--pairs N] [--sf DIR ...] [--runs N]

- ``time``: best-of-N wall of each query to a ``noop`` sink, in one
  session, with the cache cleared between runs. Several ``--sf``
  directories give a scale series. The last line is the results as JSON.
- ``plans``: writes each query's formatted physical plan to
  ``DIR/<q>_<T>.txt``; with ``--plans-md``, writes PLANS.md at the root
  of this checkout: each flagship query's claimed plan shape (``FLAGSHIPS``)
  followed by the plan Catalyst produced. Re-run it after any
  planner-visible change.
- ``profile``: runs each query once with Spark's event log on and
  reports its plan-build and execution wall, then its jobs, in-job time,
  driver gap, tasks, task CPU, shuffle writes and Python boundary time,
  read by ``perfbench/eventlog.py``.
- ``ab``: runs ``time`` against two checkouts in turn, switching which
  side goes first on every pair, and reports each side's median and
  quartiles per query and how many pairs B won.

The engine is imported from ``--root`` (default: this checkout); the
timing code always comes from this checkout, so ``ab`` can compare
against a checkout that has no measure.py. A query name the engine does
not register exits 2 before a JVM starts. ``--sf`` defaults to sf0.1 for
``time``/``ab`` and sf0.01 for ``plans``/``profile``. Run one Spark
measurement at a time: concurrent runs distort each other's timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import eventlog  # noqa: E402
import stats  # noqa: E402
from run import cpus, spark_conf, stop_spark  # noqa: E402
from tests.conftest import SF_ORACLE  # noqa: E402

SF_SMALL = SF_ORACLE
SF_BENCH = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")
LAYERS = ("jobs", "in_job_s", "driver_gap_s", "tasks", "task_cpu_s",
          "shuffle_write_mb", "python_boundary_s")

# (query, the shape its plan must show): the sections of PLANS.md, the
# evidence that the shapes claimed in COVERAGE.md/SCALE.md (pushdown,
# broadcasts, TakeOrderedAndProject, bounded exchanges) are what
# Catalyst actually runs
FLAGSHIPS = [
    ("ref_enriched_orders",
     "Two broadcast lookup joins (J1/J2): the fact side never shuffles; "
     "dims are BroadcastExchange. Scan shows ReadSchema pruned to the "
     "projected columns."),
    ("tpch_q1_pricing_summary",
     "Filter pushed to the parquet scan (PushedFilters on l_shipdate), "
     "partial_ aggregates before the single keyed exchange, whole-stage "
     "codegen spans the scan→agg pipeline."),
    ("ref_top5_nations",
     "TakeOrderedAndProject (per-partition heaps), never a global Sort."),
    ("dedup_simhash",
     "Fingerprints are computed map-side: the token hashes feed ONE "
     "MapInPandas kernel over the spread scan, with no token-keyed "
     "exchange. Both sides of the 16-bit chunk self-join read one "
     "hashpartitioning exchange over the kernel's output (the second "
     "side is a ReusedExchange), so the kernel runs once."),
    ("text_ngram_stats",
     "Round-robin spread over the under-split scan, partial-aggregated "
     "count (one hashpartitioning), TakeOrderedAndProject top-k."),
    ("dedup_decontaminate",
     "Benchmark vocabulary BROADCAST (BroadcastExchange + BroadcastHashJoin); "
     "the only fact-side keyed exchange is the final per-doc count."),
    ("events_gap_fill",
     "Fact collapses through one keyed aggregate FIRST; the dense spine is "
     "generated from a 1-row aggregate (metadata-sized) and joined after."),
    ("ann_cosine_topk",
     "Query vectors BROADCAST against the corpus scan; rank via a single "
     "window over query_id."),
    ("text_budget_two_phase",
     "The (group, quality) token-mass aggregate is tiny (≤ groups × 10⁴ "
     "rows) and BROADCASTS back; the only doc-width window partitions by "
     "(lang, quality) — the single boundary level — never by lang alone; "
     "fully-fitting levels pass through the Union sort-free."),
    ("text_temperature_mixing",
     "Per-domain token census (one partial-aggregated shuffle of #domain "
     "rows), global min + micro-rates ride BroadcastExchanges, per-doc "
     "keep/drop is a map-side hash comparison over the scan."),
    ("events_value_histogram",
     "Bin id computed map-side in the scan projection; one "
     "partial-aggregated exchange over ~10 bins."),
    ("multimodal_ahash_neardup_pairs",
     "Band self-join runs over the DISTINCT-hash vocabulary (an "
     "aggregate feeds the join, not the doc stream); the qualifying "
     "hash-pair set re-expands through BroadcastHashJoins, so the only "
     "doc-stream exchanges are the fingerprint aggregation and the "
     "intra-hash self-join on the 8-byte key. The doc-level subtrees "
     "plan the same fingerprint exchange, which AQE reuses at execution "
     "(tests/test_plans_r2.py pins two aHash kernels in the settled "
     "plan); the raster itself is never cached or shuffled."),
    ("graph_pagerank",
     "Pregel-on-DataFrames: every iteration's edge×rank join reads the "
     "same src-partitioned edges⋈degree subtree, whose exchanges AQE "
     "reuses at execution; the only per-iteration exchange is the "
     "groupBy(dst) partial-aggregated shuffle of (dst, share) rows."),
    ("text_classifier_score",
     "Featurization (regexp counts) and the integer logit all live in "
     "ONE WholeStageCodegen over the scan — a single map-side project, "
     "no exchange, no Python workers."),
    ("text_cms_heavy_hitters",
     "The d×w counters build from the aggregated token vocabulary "
     "(posexplode of the bucket-key array), reaching the probe join "
     "through a BroadcastExchange. The STATIC plan below prints the "
     "tok_counts subtree twice; at execution AQE replaces the repeat "
     "with a ReusedExchange so the corpus is scanned ONCE — "
     "tests/test_sketches.py::test_cms_build_scans_corpus_once pins "
     "exactly one FileScan in the settled plan."),
    ("text_keyword_search",
     "Query-time plan never re-tokenizes the corpus: the posting "
     "intersection is one doc_id-keyed aggregate over the term-filtered "
     "POSTINGS scan, broadcast into the metadata join; the documents "
     "scan is pruned to (doc_id, lang, source) — text is never read."),
    ("events_tdigest_quantiles",
     "Phase 1 is MapInPandas directly over the scan; the only "
     "scale-bearing exchange carries CENTROID rows (grp-keyed) into the "
     "per-group merge. (The raw-row Exchange under the MapInPandas is "
     "spread()'s under-split-fixture guard — a conditional no-op on any "
     "input with real file splits, operators/util.py:8.)"),
    ("engine_approx_distinct",
     "The SQL-facade rewrite target: `APPROX_COUNT_DISTINCT(o_custkey)` (and the Trino spelling) arrive at Catalyst as `hll_sketch_estimate(hll_sketch_agg(..., 12))`. The executed plan shows the scale shape: a TWO-COLUMN pruned scan of orders, a map-side `partial_hll_sketch_agg` (ObjectHashAggregate (2)) so only 2^12-register sketch buffers reach the exchange, then the final merge. The extra (o_orderstatus, o_custkey)-keyed exchange exists ONLY because the gate row carries the exact COUNT(DISTINCT) beside the estimate as its own accuracy report — dropping the exact column (production form) leaves one exchange of sketch buffers. Dump (sf0.1):"),
    ("ann_filtered_topk",
     "Metadata-filtered exact vector search: the 8 query vectors broadcast (BroadcastExchange (11)); the label equality rides the join condition, so the big side is scanned ONCE with IsNotNull(vec_id)/IsNotNull(label) pushed to parquet and non-matching vectors are rejected at the hash probe before any dot product. The top-k is WindowGroupLimit-pruned map-side (15) BEFORE the single per-query exchange (16) — only each partition's local top-5 rows shuffle. Exchange (3)/(8) is `spread()`'s under-split guard (no-op at scale). Dump (sf0.1):"),
    ("text_hybrid_rrf_search",
     "Hybrid fusion is driver-negligible by construction: both legs end bounded (BM25 leg is a <= 20-row LOCAL frame — the bounded driver materialization documented in bm25_scores — and the cosine leg's top-20 is WindowGroupLimit-pruned), so the full-outer fusion join plans over two k-row inputs and the heavy work is exactly the legs' own scans (one cached corpus tokenize, one embeddings scan). Dump (sf0.1):"),
    ("ann_maxsim_multivector",
     "The late-interaction score compiles to ONE projection (12): 16 unrolled element_at dot chains + greatest/sum per document, fed by a BroadcastNestedLoopJoin whose build side is the 1-row query (10); `vec_id <> 0` is pushed to the parquet scan and the top-10 is TakeOrderedAndProject (13) — no sort shuffle, no explode. Exchange (3)/(8) is spread()'s under-split guard. Dump (sf0.1):"),
    ("ann_sq8_topk",
     "Quantization (scale fold + code transform) runs once per side as a projection; the pair loop is a BroadcastHashJoin against the 8 quantized queries with the 64-term integer multiply-add chain in the join's projection, WindowGroupLimit pruning the per-partition top-10 before the single rank exchange. Dump (sf0.1):"),
    ("graph_triangle_counts",
     "Degree-ordered orientation: every join in the wedge-close pipeline is an equi-join (SortMergeJoin/BroadcastHashJoin, no CartesianProduct); the per-node attribution aggregates partially before its exchange."),
    ("ann_sq8_rerank",
     "Two-stage serving shape: stage 1 is the SQ8 integer-code scan with its per-query top-k window; stage 2 joins the corpus against the BROADCAST 40-row-per-query shortlist and broadcast queries — no corpus-sized exchange for the re-rank, so its cost is independent of table size."),
    ("export_epoch_shuffle",
     "Census and target are #domains-row aggregates; rates ride BroadcastHashJoins; the copy explode (Generate) is map-side above the broadcast join; the ONLY corpus-sized hash exchange is hashpartitioning(shard) — the write order the epoch needs anyway."),
    ("events_seasonal_anomaly",
     "Two keyed fact aggregates (median, then MAD of deviations — inherently two-phase) produce #types x 24-row models that join back as BroadcastHashJoins; the flag predicate rides the scan side."),
    ("dedup_cdc_chunks",
     "Chunking+hashing+md5 all inside ONE MapInPandas (ArrowEvalPython) over the spread scan; the only exchanges are the fingerprint census aggregate and its join back on the md5-balanced key."),
    ("join_range_bands",
     "The inequality join is a bucket EQUI-join: bands explode into covering buckets behind a BroadcastExchange, facts compute bucket map-side, the exact [lo,hi) bounds run as a post-join Filter, and the rollup partial-aggregates before one keyed exchange."),
    ("export_leakage_safe_split",
     "One fingerprint groupBy (distinct-texts rows) and one md5-balanced "
     "join back; the split decision is a map-side hash of the broadcast-free "
     "representative column — no additional exchange."),
    ("dedup_cdc_rewrite",
     "Chunking in the Arrow kernel; keep/drop is ONE window over the "
     "md5-balanced fp exchange; the rebuild joins only surviving positions "
     "back to the text on doc_id and concatenates in-plan (sorted struct "
     "array -> substr chain) — chunk text never shuffles."),
]


def engine(root: str, names: list[str]):
    """The query registry of the checkout at ``root``; exits 2 if it lacks
    one of ``names``. Imports no JVM."""
    sys.path.insert(0, os.path.abspath(root))
    from fluss_iceberg_spark import registry

    registry.load_all()
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"unknown queries in {root}: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    return registry


def session(app: str, sf: str, extra_conf: dict[str, str] | None = None):
    """The engine's session on every CPU of this process, warmed up by one
    small scan."""
    from fluss_iceberg_spark.session import get_spark

    spark = get_spark(app_name=app, cpus=cpus(), extra_conf=extra_conf)
    spark.read.parquet(os.path.join(sf, "nation.parquet")).count()
    return spark


def cmd_time(args) -> int:
    registry = engine(args.root, args.queries)
    sfs = args.sf or [SF_BENCH]
    spark = session("measure-time", sfs[0])
    out: dict[str, dict[str, float]] = {}
    for sf in sfs:
        for q in args.queries:
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                registry.QUERIES[q](spark, sf).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            out.setdefault(sf, {})[q] = round(best, 4)
            print(f"{q} @ {sf}: {best:.3f} s", flush=True)
    stop_spark(spark)
    print(json.dumps(out))
    return 0


def cmd_plans(args) -> int:
    claims = dict(FLAGSHIPS)
    if args.plans_md:
        args.queries = args.queries or list(claims)
    elif not (args.out and args.tag and args.queries):
        print("plans needs --out, --tag and queries, or --plans-md", file=sys.stderr)
        return 2
    registry = engine(args.root, args.queries)
    spark = session("measure-plans", args.sf)
    md = [
        "# PLANS — formatted physical plans of flagship queries",
        "",
        f"Generated by `scripts/measure.py plans --plans-md` at sf_dir={args.sf}. "
        "Each section states the shape the design claims, followed by the plan "
        "Catalyst actually produced (verify the claim against the nodes).",
        "",
    ]
    for q in args.queries:
        df = registry.QUERIES[q](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        if not args.plans_md:
            path = os.path.join(args.out, f"{q}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} chars)")
            continue
        md += [f"## {q}", ""]
        if q in claims:
            md += [f"**Claimed shape:** {claims[q]}", ""]
        md += ["```", plan.rstrip(), "```", ""]
    stop_spark(spark)
    if args.plans_md:
        with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
            f.write("\n".join(md))
        print(f"wrote {os.path.join(ROOT, 'PLANS.md')} ({len(md)} lines)")
    return 0


def cmd_profile(args) -> int:
    registry = engine(args.root, args.queries)
    work = tempfile.mkdtemp(prefix="measure-profile-")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        spark = session("measure-profile", args.sf, spark_conf(work, True))
        sc = spark.sparkContext
        windows = []
        for q in args.queries:
            # the event log names each job's group, so its jobs are q's
            sc.setJobGroup(q, q)
            t0 = time.time()  # epoch seconds: the event log's clock
            df = registry.QUERIES[q](spark, args.sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            windows.append((q, t0, t1, time.time()))
        stop_spark(spark)
        log = eventlog.load(os.path.join(work, "events"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {}
    print(f"{'query':<40} " + " ".join(f"{k:>{max(8, len(k))}}" for k in ("build_s", "exec_s", *LAYERS)))
    for q, t0, t1, t2 in windows:
        layers = eventlog.op_layers(log, q, t0, t2)
        row = {"build_s": t1 - t0, "exec_s": t2 - t1, **{k: layers[k] for k in LAYERS}}
        out[q] = {k: round(v, 4) for k, v in row.items()}
        print(f"{q:<40} " + " ".join(
            f"{v:>{max(8, len(k))}}" if isinstance(v, int) else f"{v:>{max(8, len(k))}.3f}"
            for k, v in row.items()))
    print(json.dumps(out))
    return 0


def pair_order(i: int) -> tuple[str, str]:
    """Which side runs first in pair ``i``: A on even pairs, B on odd."""
    return ("A", "B") if i % 2 == 0 else ("B", "A")


def _quartiles(values: list[float]) -> list[float]:
    return statistics.quantiles(values, n=4) if len(values) > 1 else values * 3


def summary(a_runs: list[dict], b_runs: list[dict]) -> list[str]:
    """One line per (scale, query): each side's median and quartiles of
    the per-pair best times, the spread (quartile distance / median) and
    how many pairs B was faster in. ``a_runs``/``b_runs`` are ``time``
    results, ``{sf: {query: seconds}}``, one per pair."""
    lines = []
    for sf, queries in a_runs[0].items():
        for q in queries:
            a = [r[sf][q] for r in a_runs]
            b = [r[sf][q] for r in b_runs]
            wins = sum(1 for x, y in zip(a, b) if y < x)
            (a1, am, a3), (b1, bm, b3) = _quartiles(a), _quartiles(b)
            sa, sb = (stats.quartile_spread(v) if len(v) > 1 else 0.0 for v in (a, b))
            lines.append(
                f"{q} @ {sf}: A {am:.3f} s [{a1:.3f}, {a3:.3f}] spread {sa:.2f}  "
                f"B {bm:.3f} s [{b1:.3f}, {b3:.3f}] spread {sb:.2f}  "
                f"B/A {bm / am:.3f}  B faster in {wins}/{len(a)} pairs"
            )
    return lines


def _registered(root: str) -> set[str]:
    """Query names the checkout at ``root`` registers, read in a fresh
    interpreter (two checkouts' engines cannot share one)."""
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from fluss_iceberg_spark import registry; registry.load_all(); "
            "print(' '.join(registry.QUERIES))")
    out = subprocess.run([sys.executable, "-c", code, root], capture_output=True, text=True, check=True)
    return set(out.stdout.split())


def _time_side(root: str, tail: list[str]) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "time", "--root", root, *tail]
    out = subprocess.run(cmd, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def cmd_ab(args) -> int:
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    for side, root in sides.items():
        known = _registered(root)
        unknown = [q for q in args.queries if q not in known]
        if unknown:
            print(f"unknown queries in {side} ({root}): {' '.join(unknown)}", file=sys.stderr)
            return 2
    tail = ["--runs", str(args.runs), *[a for sf in args.sf or [SF_BENCH] for a in ("--sf", sf)],
            *args.queries]
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.pairs):
        for side in pair_order(i):
            runs[side].append(_time_side(sides[side], tail))
        print(f"pair {i} ({'-'.join(pair_order(i))}): " + "  ".join(
            f"{s} {json.dumps(runs[s][-1])}" for s in "AB"), flush=True)
    print("\n".join(summary(runs["A"], runs["B"])))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("time", help="best-of-N wall per query to a noop sink")
    p.add_argument("--sf", action="append", help="data directory; repeat for a scale series")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--root", default=ROOT, help="checkout whose engine runs")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("plans", help="formatted physical plan per query")
    p.add_argument("--out")
    p.add_argument("--tag")
    p.add_argument("--plans-md", action="store_true",
                   help="write PLANS.md: the flagship queries' claims and plans")
    p.add_argument("--sf", default=SF_SMALL)
    p.add_argument("--root", default=ROOT, help="checkout whose engine runs")
    p.add_argument("queries", nargs="*")
    p = sub.add_parser("profile", help="per-query layers from Spark's event log")
    p.add_argument("--sf", default=SF_SMALL)
    p.add_argument("--root", default=ROOT, help="checkout whose engine runs")
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("ab", help="interleaved A/B of two checkouts")
    p.add_argument("--a", required=True, help="checkout A (the baseline)")
    p.add_argument("--b", required=True, help="checkout B")
    p.add_argument("--pairs", type=int, default=5)
    p.add_argument("--sf", action="append", help="data directory; repeat for a scale series")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    args.queries = list(dict.fromkeys(args.queries))
    return {"time": cmd_time, "plans": cmd_plans, "profile": cmd_profile, "ab": cmd_ab}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
