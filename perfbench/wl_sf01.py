"""sf01_queries: the nine headline queries of ``bench.py`` from
``__spark_entry__.queries()`` over the sf0.1 tables, run in rounds; each
query's result is fetched to the caller as an Arrow table.

The tables are the fixed, read-only sf0.1 test data (``SF_DIR``), so this
workload's inputs do not depend on the seed."""

from __future__ import annotations

import math
import os
import time

import pyarrow.parquet as pq

from harness import median

# the read-only sf0.1 test tables; SPARK_GRAFT_SF_DIR as in bench.py
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
LSH = "q_minhash_pairs_lsh"
QUERIES = ("q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
           "q_window_topk", "q_salted_agg", "q_sessionize", "q_text_stats",
           LSH, "q_ann_topk")
# q_minhash_pairs_lsh: 64 MinHash functions in 16 bands of 4 rows, J >= 0.5
BANDS, ROWS, THRESHOLD = 16, 4, 0.5
RECALL_SIGMAS = 3.0
# the exact pairs q_minhash_pairs_lsh finds on the sf0.1 documents with the
# program as it was when lsh_recall became a known fault (244 of 256): the
# fault is excused only while recall stays at least this high
LSH_FOUND_FLOOR = 244


class Workload:
    name = "sf01_queries"
    # with_minhash's 64 hash functions are correlated: q_minhash_pairs_lsh
    # misses 12 of the 256 pairs with Jaccard >= 0.5 (all >= 0.8), far
    # below the banding S-curve, on every run. lsh_recall_floor, which is
    # not excused, keeps that shortfall from growing
    KNOWN_FAULTS = ("lsh_recall",)

    def __init__(self, run_dir: str, seed: int, tracer):
        self.dir, self.seed, self.tracer = run_dir, seed, tracer
        self.rounds: list[dict[str, float]] = []

    def generate(self) -> None:
        if not os.path.isfile(f"{SF_DIR}/documents.parquet"):
            raise FileNotFoundError(f"sf0.1 tables not found under {SF_DIR}")
        self.n_docs = pq.ParquetFile(f"{SF_DIR}/documents.parquet").metadata.num_rows

    def register(self, spark) -> None:
        import __spark_entry__ as ent

        self.spark, self.ent = spark, ent
        self.q = ent.queries()
        ent._register(spark, SF_DIR)

    def rep(self) -> None:
        times, out = {}, {}
        for name in QUERIES:
            t0 = time.perf_counter()
            with self.tracer.span(f"__spark_entry__.{name}"):
                out[name] = self.q[name](self.spark, SF_DIR).toArrow()
            times[name] = time.perf_counter() - t0
        self.rounds.append(times)
        self.last = out

    def after_rep(self) -> None:
        pass

    # ------------------------------------------------------------ checks

    def check(self) -> list[tuple[str, bool, str]]:
        import duckdb

        import oracles

        res = []
        sql = self.ent.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.ent.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
            for name in QUERIES:
                if name == LSH:
                    continue
                want = oracles.canonical_rows(con.execute(sql[name]).arrow())
                got = oracles.canonical_rows(self.last[name])
                res.append((f"oracle.{name}", got == want,
                            f"{len(got[1])} rows vs {len(want[1])}, cols {got[0] == want[0]}"))
        finally:
            con.close()
        res += self._check_lsh()
        return res

    def _check_lsh(self) -> list[tuple[str, bool, str]]:
        import oracles

        docs = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
        sets = {d: oracles.shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
        lsh = self.last[LSH].to_pydict()
        pairs = list(zip(lsh["id_a"], lsh["id_b"], lsh["jaccard"]))
        bad = []
        for a, b, j in pairs:
            inter = len(sets[a] & sets[b])
            exact = inter / (len(sets[a]) + len(sets[b]) - inter)
            if not (a < b and exact >= THRESHOLD and oracles.round6(exact) == j):
                bad.append((a, b, j, exact))
        distinct = len({(a, b) for a, b, _ in pairs}) == len(pairs)
        res = [("lsh_jaccard", bool(pairs) and not bad and distinct,
                f"{len(pairs)} pairs, {len(bad)} wrong")]

        truth = oracles.jaccard_pairs(sets)
        found = {(a, b) for a, b, _ in pairs} & set(truth)
        p = [1.0 - (1.0 - j ** ROWS) ** BANDS for j in truth.values()]
        n = len(p)
        expect = sum(p) / n
        margin = RECALL_SIGMAS * math.sqrt(sum(x * (1 - x) for x in p)) / n
        recall = len(found) / n
        res.append(("lsh_recall", recall >= expect - margin,
                    f"recall {recall:.4f} ({len(found)}/{n}), S-curve {expect:.4f} - {margin:.4f}"))
        res.append(("lsh_recall_floor", len(found) >= LSH_FOUND_FLOOR,
                    f"{len(found)} of {n} exact pairs found, floor {LSH_FOUND_FLOOR}"))
        return res

    # ------------------------------------------------------- traced run

    def install_trace(self) -> None:
        pass

    def probes(self) -> dict:
        """``dedup.with_minhash`` on its own over the documents."""
        from pycuda_raster_spark.operators.dedup import with_minhash

        ts = []
        docs = self.spark.table("documents")
        for _ in range(3):
            with self.tracer.span("operators.dedup.with_minhash"):
                t0 = time.perf_counter()
                with_minhash(docs).select("doc_id", "minhash").write.format("noop") \
                    .mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
        return {"operators.dedup.with_minhash_s": median(ts)}

    def layer_metrics(self, log, reps: list[dict]) -> dict:
        tr = self.tracer
        timed = self.rounds[-len(reps):]
        m = {f"spark_entry.{q}_s": tr.per_rep(f"__spark_entry__.{q}") for q in QUERIES}
        m["lsh_docs_per_s"] = self.n_docs / median(r[LSH] for r in timed)
        m["sql_s"] = median(sum(v for k, v in r.items() if k != LSH) for r in timed)

        # the two verify joins are shuffled-hash joins: on id_a (one row per
        # candidate pair) and on id_b, whose condition is Jaccard >= 0.5
        cand, pairs, shuffle = [], [], []
        for s in tr.timed_spans(f"__spark_entry__.{LSH}"):
            c = out = mb = 0.0
            for ex in log.execs_in({s["id"]}):
                for node in log.nodes(ex):
                    keys = node["desc"].split("]")[0]
                    if node["name"] != "ShuffledHashJoin" or not ("id_a" in keys or "id_b" in keys):
                        continue
                    rows = node["metrics"].get("number of output rows", 0)
                    if "id_a" in keys:
                        c += rows
                    else:
                        out += rows
                    mb += sum(x["metrics"].get("shuffle bytes written", 0) for x in _exchanges(node)) / 2**20
            cand.append(c)
            pairs.append(out)
            shuffle.append(mb)
        cm = median(cand) if cand else 0.0
        m["operators.dedup.candidate_pairs"] = cm
        m["operators.dedup.verify_hit_ratio"] = median(pairs) / cm if cm else 0.0
        m["operators.dedup.attach_shuffle_mb"] = median(shuffle) if shuffle else 0.0
        return m


def _exchanges(node: dict) -> list[dict]:
    """The shuffle exchanges below a join, looking through query-stage,
    shuffle-read, codegen and sort wrappers."""
    out, todo = [], list(node["children"])
    while todo:
        n = todo.pop()
        if n["name"] == "Exchange":
            out.append(n)
        elif n["name"].split(" (")[0] in ("ShuffleQueryStage", "AQEShuffleRead", "InputAdapter",
                                          "WholeStageCodegen", "Sort", "Project"):
            todo.extend(n["children"])
    return out
