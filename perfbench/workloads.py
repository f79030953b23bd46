"""The benchmark workloads.

A workload builds its inputs from the seed, then hands the runner one
list of :class:`Op` per pass. Every op is one call a client makes and
waits for (a closed loop with one client). ``warm=True`` asks for the
checked form of the pass: outputs are collected and compared with an
oracle, untimed; measured passes force outputs into a no-op sink.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from metrics import median, percentile, tail_percentile


def noop_sink(df) -> None:
    """Force every row and column of a DataFrame without shipping it to
    the driver (a bare count() lets Catalyst prune the plan)."""
    df.write.format("noop").mode("overwrite").save()


def collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def identity(x):
    return x


@dataclass
class Op:
    name: str
    kind: str  # latency class: query, topk, codebook, apply, read, lookup, compact
    call: Callable[[], object]  # returns a lazy DataFrame or a finished result
    force: Callable[[object], object] = noop_sink
    check: Callable[[object], list[str]] | None = None
    pre: Callable[[], None] | None = None  # untimed, before the call
    post: Callable[[object], None] | None = None  # untimed, after force


@dataclass
class Inputs:
    files: list[str]  # the generated inputs, hashed into the printed digest
    nominal_rows: int  # fixed input rows of one pass, for rows_per_s


def kinds(samples) -> dict[str, list[float]]:
    """Op walls grouped by latency class."""
    out: dict[str, list[float]] = {}
    for s in samples:
        out.setdefault(s.kind, []).append(s.wall)
    return out


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tmp: str):
        self.spark, self.seed, self.tmp = spark, seed, tmp
        self.rng = np.random.default_rng(seed)

    def inputs(self) -> Inputs:
        raise NotImplementedError

    def prepare(self) -> None:
        """Spark-side set-up after the inputs exist (timed with set-up)."""

    def pass_ops(self, pass_idx: int, warm: bool) -> list[Op]:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def report(self, measured) -> dict[str, float]:
        """Workload-only figures for the report line of an untraced run."""
        return {}

    def layer_metrics(self, traced, warm) -> dict[str, float]:
        """Workload-only per-layer figures from the traced samples."""
        return {}


def shingles(text: str, n: int = 3) -> frozenset[str]:
    w = text.lower().split()
    return frozenset(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def oracle_rows(sql: str, data_dir: str) -> tuple[list[str], list[tuple]]:
    """Run a registry oracle in DuckDB over the corpus tables."""
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


class CorpusDedup(Workload):
    """LLM-corpus operators on a seeded near-duplicate corpus: every base
    document plus two copies with 5% of the words substituted."""

    name = "corpus_dedup"
    BASE_DOCS = 400
    EMBEDDINGS = 1000
    QUERIES = [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_exact",
        "text_lang_id",
        "text_quality_score",
        "text_repetition_stats",
    ]
    DEDUP_OPS = ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_exact")
    # Every planted pair at or above this true Jaccard must be found by
    # MinHash-LSH (60 perms, 20 bands of 3): a pair at 0.85 is missed with
    # probability (1 - 0.85**3)**20 < 1e-8.
    LSH_RECALL_JACCARD = 0.85

    def inputs(self) -> Inputs:
        self.data_dir = os.path.join(self.tmp, "corpus")
        base = datagen.random_texts(self.rng, self.BASE_DOCS)
        docs, self.groups = datagen.near_dup_corpus(self.rng, base)
        emb = datagen.embeddings_table(self.rng, self.EMBEDDINGS)
        datagen.write_tables({"documents": docs, "embeddings": emb}, self.data_dir)
        self.docs = docs.column("text").to_pylist()
        self.vectors = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        return Inputs(
            files=[os.path.join(self.data_dir, f"{t}.parquet") for t in ("documents", "embeddings")],
            nominal_rows=docs.num_rows + emb.num_rows,
        )

    def pass_ops(self, pass_idx, warm):
        """Registry queries in a seeded order plus an ivf_topk probe. The
        IVF codebook is built once, first thing on the checked warm pass,
        and reused by every probe, as ivf_codebook's docstring intends."""
        from hadoop_20_warehouse_fix_spark.catalog import load_table
        from hadoop_20_warehouse_fix_spark.operators.similarity import ivf_codebook, ivf_topk
        from hadoop_20_warehouse_fix_spark.queries import load_all

        def codebook():
            emb = load_table(self.spark, self.data_dir, "embeddings")
            self.codebook = ivf_codebook(emb, n_centroids=16, seed=42, codebook="sample")
            return self.codebook

        def topk():
            emb = load_table(self.spark, self.data_dir, "embeddings")
            return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, nprobe=4, precomputed_codebook=self.codebook)

        reg = load_all()
        checks = {"dedup_ngram_jaccard": self.pairs_check(0.5), "dedup_minhash_lsh": self.pairs_check(self.LSH_RECALL_JACCARD)}
        ops = [self.checked_op("ivf_topk", "topk", topk, warm, self.check_topk)]
        for name in self.QUERIES:
            spec = reg[name]
            call = (lambda fn: lambda: fn(self.spark, self.data_dir))(spec.fn)
            ops.append(self.checked_op(name, "query", call, warm, checks.get(name) or self.oracle_check(spec.oracle)))
        ops = [ops[i] for i in np.random.default_rng([self.seed, pass_idx]).permutation(len(ops))]
        if warm:
            ops.insert(0, Op("ivf_codebook", "codebook", codebook, force=identity, check=self.check_codebook))
        return ops

    @staticmethod
    def checked_op(name, kind, call, warm: bool, check) -> Op:
        """On the checked warm pass the output is collected and
        ``check(columns, rows)`` runs on it; other passes force it into the
        sink."""
        if not warm:
            return Op(name, kind, call)
        cols: list[str] = []

        def force(df):
            cols[:] = df.columns
            return collect(df)

        return Op(name, kind, call, force=force, check=lambda rows: check(cols, rows))

    def oracle_check(self, sql: str):
        """Compare with the registry's DuckDB oracle, in the canonical form
        that tests/oracle.py compares in."""
        from tests.oracle import canonicalize

        def check(cols, rows):
            got_cols, got = canonicalize(cols, rows)
            want_cols, want = canonicalize(*oracle_rows(sql, self.data_dir))
            if got_cols != want_cols:
                return [f"columns {got_cols} vs oracle {want_cols}"]
            if got != want:
                bad = sum(a != b for a, b in zip(got, want))
                return [f"{len(got)} rows vs oracle {len(want)}; {bad} differ"]
            return [] if want else ["empty result: the check would pass vacuously"]

        return check

    def planted_pairs(self):
        for g in self.groups:
            for a, b in itertools.combinations(sorted(g), 2):
                yield a, b

    def pairs_check(self, recall_at: float, threshold: float = 0.5):
        """Full recall of the planted pairs whose true word-3-gram Jaccard
        is at least ``recall_at``; every reported pair scored exactly and
        at least ``threshold``."""
        sh: dict[int, frozenset] = {}

        def j(a, b):
            for d in (a, b):
                if d not in sh:
                    sh[d] = shingles(self.docs[d])
            return jaccard(sh[a], sh[b])

        def check(cols, rows):
            got = {(a, b): v for a, b, v in rows}
            problems = [
                f"pair {p} (jaccard {j(*p):.6f}) reported as {v}"
                for p, v in got.items()
                if j(*p) < threshold or abs(j(*p) - v) > 5.000001e-7  # v is rounded to 6 places
            ]
            missed = [p for p in self.planted_pairs() if p not in got and j(*p) >= recall_at]
            if missed:
                problems.append(f"{len(missed)} planted pairs missed, e.g. {missed[:3]}")
            if not got:
                problems.append("no pairs reported")
            return problems[:5]

        return check

    def check_codebook(self, cb):
        norms = [math.sqrt(sum(x * x for x in v)) for _, v in cb]
        if len(cb) != 16 or any(abs(n - 1.0) > 1e-6 for n in norms):
            return [f"codebook has {len(cb)} centroids with norms {norms[:3]}"]
        return []

    def check_topk(self, cols, rows):
        """Every returned neighbour carries its exact cosine, in rank order."""
        v = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)
        problems, by_query = [], {}
        for q, nb, cos, rank in rows:
            by_query.setdefault(q, []).append((rank, cos))
            exact = float(v[q] @ v[nb])
            if abs(exact - cos) > 1e-5 or q == nb:
                problems.append(f"query {q} neighbour {nb}: cosine {cos} vs exact {exact:.6f}")
        for q, ranked in by_query.items():
            ranked.sort()
            if [r for r, _ in ranked] != list(range(1, len(ranked) + 1)) or len(ranked) > 5:
                problems.append(f"query {q} ranks {[r for r, _ in ranked]}")
            if any(a[1] < b[1] for a, b in zip(ranked, ranked[1:])):
                problems.append(f"query {q} not in cosine order")
        if len(by_query) != 10:
            problems.append(f"{len(by_query)} of 10 queries answered")
        return problems[:5]

    def layer_metrics(self, traced, warm):
        rows = {s.name: s.rows or 0 for s in warm}
        by_pass: dict[int, list] = {}
        for s in traced:
            if s.name in self.DEDUP_OPS:
                by_pass.setdefault(s.pass_idx, []).append(s)
        ratios = [
            sum(rows[s.name] for s in ss) / records
            for ss in by_pass.values()
            if (records := sum(s.stats["shuffle_write_records"] for s in ss))
        ]
        return {
            "dedup.out_rows_per_shuffle_record": median(ratios),
            "similarity.ivf_codebook_s": median(kinds(warm).get("codebook", [])),
            "similarity.ivf_topk_s": median(kinds(traced).get("topk", [])),
        }


_EPOCH = dt.datetime(1970, 1, 1)


class KeyedCdc(Workload):
    """Change batches applied to a keyed table, each followed by a
    windowed snapshot aggregate and a point lookup; every pass ends with a
    compaction."""

    name = "keyed_cdc"
    ROWS = 30_000
    BUCKETS = 16
    BATCHES = 2
    UPSERTS, DELETES, INSERTS = 300, 60, 60  # per batch: 1%, 0.2% and 0.2% of the table
    LOOKUPS = 50
    WINDOW_DAYS = 365

    def inputs(self) -> Inputs:
        tbl = datagen.orders_table(self.rng, self.ROWS, self.ROWS // 10)
        self.schema = tbl.schema
        self.src = os.path.join(self.tmp, "orders.parquet")
        pq.write_table(tbl, self.src)
        self.path = os.path.join(self.tmp, "keyed_orders")
        self.batch_dir = os.path.join(self.tmp, "batches")
        os.makedirs(self.batch_dir)
        self.fold = {row[0]: row for row in zip(*(c.to_pylist() for c in tbl.columns))}
        self.next_key = self.ROWS
        self.per_pass: dict[int, dict[str, int]] = {}
        first = self.make_batch(0, 0)
        batch_rows = self.UPSERTS + self.DELETES + self.INSERTS
        return Inputs(files=[self.src, first], nominal_rows=self.ROWS + self.BATCHES * batch_rows)

    def prepare(self) -> None:
        from hadoop_20_warehouse_fix_spark.sources.keyed import write_keyed_table

        write_keyed_table(
            self.spark.read.parquet(self.src), self.path, ["o_orderkey"], num_buckets=self.BUCKETS, assume_unique=True
        )

    def make_batch(self, pass_idx: int, b: int) -> str:
        """One seeded CDC batch against the current fold: upserts skewed
        toward recent keys, deletes of other live keys and fresh inserts."""
        path = os.path.join(self.batch_dir, f"p{pass_idx}_b{b}.parquet")
        if os.path.exists(path):
            return path
        rng = np.random.default_rng([self.seed, pass_idx, b])
        live = np.array(sorted(self.fold))
        back = np.minimum(rng.exponential(len(live) / 8, self.UPSERTS * 2).astype(np.int64), len(live) - 1)
        ups = list(dict.fromkeys(live[len(live) - 1 - back].tolist()))[: self.UPSERTS]
        dels = rng.choice(np.setdiff1d(live, ups), self.DELETES, replace=False).tolist()
        ins = list(range(self.next_key, self.next_key + self.INSERTS))
        fresh = datagen.orders_table(rng, len(ups) + len(ins), self.ROWS // 10)
        cols = {c: fresh.column(c).to_pylist() for c in fresh.column_names}
        cols["o_orderkey"] = ups + ins
        for i, c in enumerate(fresh.column_names):
            cols[c] += [self.fold[k][i] for k in dels]
        table = pa.table({c: pa.array(cols[c], self.schema.field(c).type) for c in fresh.column_names})
        ops = ["upsert"] * (len(ups) + len(ins)) + ["delete"] * len(dels)
        pq.write_table(table.append_column("op", pa.array(ops)), path)
        return path

    def apply_to_fold(self, path: str) -> None:
        t = pq.read_table(path)
        for *row, op in zip(*(t.column(f.name).to_pylist() for f in self.schema), t.column("op").to_pylist()):
            if op == "delete":
                self.fold.pop(row[0], None)
            else:
                self.fold[row[0]] = tuple(row)
                self.next_key = max(self.next_key, row[0] + 1)

    def pass_ops(self, pass_idx, warm):
        from hadoop_20_warehouse_fix_spark.sources.keyed import (
            apply_changes_keyed_table,
            compact_keyed_table,
            lookup_keys,
            read_keyed_table,
        )
        from hadoop_20_warehouse_fix_spark.streaming.windows import tumbling_agg

        spark, path = self.spark, self.path
        self.per_pass[pass_idx] = dict.fromkeys(("bytes", "files", "batch_bytes", "pending", "table_bytes"), 0)
        tally = self.per_pass[pass_idx]
        ops: list[Op] = []
        for b in range(self.BATCHES):
            st: dict = {}

            def pre_apply(b=b, st=st):
                st["batch"] = self.make_batch(pass_idx, b)
                st["before"] = self.files()

            def apply(st=st):
                return apply_changes_keyed_table(spark, path, spark.read.parquet(st["batch"]), op_col="op")

            def post_apply(_, b=b, st=st):
                self.apply_to_fold(st["batch"])
                self.count_writes(tally, st["before"])
                tally["batch_bytes"] += os.path.getsize(st["batch"])
                rng = np.random.default_rng([self.seed, pass_idx, b, 1])
                live = rng.choice(sorted(self.fold), self.LOOKUPS - 5, replace=False).tolist()
                st["keys"] = sorted(set(live) | {-1, -2, -3, -4, -5})  # five absent keys

            def read():
                return tumbling_agg(
                    read_keyed_table(spark, path),
                    window_size=f"{self.WINDOW_DAYS} days",
                    ts_col="o_orderdate",
                    group_cols=["o_orderstatus"],
                    aggs=[F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_custkey"), F.sum("o_totalprice")],
                )

            def lookup(st=st):
                return lookup_keys(spark, path, st["keys"])

            def check_lookup(rows, st=st):
                want = sorted(self.fold[k] for k in st["keys"] if k in self.fold)
                return [] if sorted(rows) == want else [f"lookup of {len(st['keys'])} keys: {len(rows)} rows, want {len(want)}"]

            ops.append(Op("apply", "apply", apply, force=identity, pre=pre_apply, post=post_apply))
            ops.append(Op("read", "read", read, force=collect, check=self.check_snapshot))
            ops.append(Op("lookup", "lookup", lookup, force=collect, check=check_lookup))

        before_compact: dict = {}

        def pre_compact():
            tally["pending"] = len([d for d in os.listdir(os.path.join(path, "_delta")) if d.startswith("seq=")])
            before_compact.update(self.files())

        def post_compact(_):
            self.count_writes(tally, before_compact)
            tally["table_bytes"] = sum(size for size, _ in self.files().values())

        def compact():
            return compact_keyed_table(spark, path)

        ops.append(Op("compact", "compact", compact, force=identity, pre=pre_compact, post=post_compact))
        return ops

    def files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root, _, names in os.walk(self.path):
            for n in names:
                st = os.stat(os.path.join(root, n))
                out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns)
        return out

    def count_writes(self, tally: dict, before: dict) -> None:
        """Add the files created or rewritten since ``before`` to the pass."""
        for p, sig in self.files().items():
            if before.get(p) != sig:
                tally["bytes"] += sig[0]
                tally["files"] += 1

    def check_snapshot(self, rows):
        """The windowed aggregate matches the same aggregate of the fold."""
        width = self.WINDOW_DAYS * 86_400
        want: dict[tuple, list] = {}
        for key, cust, status, price, day, _ in self.fold.values():
            start = (day - _EPOCH).total_seconds() // width * width
            acc = want.setdefault((_EPOCH + dt.timedelta(seconds=start), status), [0, 0, 0, 0.0])
            for i, v in enumerate((1, key, cust, price)):
                acc[i] += v
        got = {(r[0], r[2]): r[3:] for r in rows}
        bad = [
            k
            for k in want.keys() | got.keys()
            if k not in got or k not in want or tuple(got[k][:3]) != tuple(want[k][:3]) or abs(got[k][3] - want[k][3]) > 1e-6 * abs(want[k][3])
        ]
        return [f"{len(bad)} of {len(want)} windows differ from the fold, e.g. {bad[:2]}"] if bad else []

    def final_check(self) -> list[str]:
        """The table equals the functional fold of every batch applied;
        also records the bytes of the live rows written once, for
        space_amp."""
        from hadoop_20_warehouse_fix_spark.sources.keyed import read_keyed_table

        table = read_keyed_table(self.spark, self.path)
        got = sorted(collect(table))
        want = sorted(self.fold.values())
        live = os.path.join(self.tmp, "live_once")
        table.coalesce(1).write.parquet(live)
        self.live_bytes = sum(os.path.getsize(os.path.join(live, f)) for f in os.listdir(live) if f.endswith(".parquet"))
        self.end_bytes = sum(size for size, _ in self.files().values())
        if got != want:
            diff = len(set(got) ^ set(want))
            return [f"table differs from the fold of the batches: {len(got)} vs {len(want)} rows, {diff} differ"]
        return []

    def report(self, measured):
        by = kinds(measured)
        applies = by.get("apply", [])
        measured_idx = {s.pass_idx for s in measured}
        passes = [v for i, v in self.per_pass.items() if i in measured_idx]
        return {
            "apply_p50_s": median(applies),
            "apply_tail_s": percentile(applies, tail_percentile(len(applies))),
            "read_p50_s": median(by.get("read", [])),
            "lookup_p50_s": median(by.get("lookup", [])),
            "write_amp": sum(p["bytes"] for p in passes) / sum(p["batch_bytes"] for p in passes),
            "space_amp": self.end_bytes / self.live_bytes,
        }

    def layer_metrics(self, traced, warm):
        by = kinds(traced)
        jobs = {k: [s.stats["jobs"] for s in traced if s.kind == k] for k in by}
        passes = [v for i, v in self.per_pass.items() if i in {s.pass_idx for s in traced}]
        return {
            "keyed.apply_s": median(by.get("apply", [])),
            "keyed.jobs_per_apply": median(jobs.get("apply", [])),
            "keyed.bytes_written": median(p["bytes"] for p in passes),
            "keyed.files_written": median(p["files"] for p in passes),
            "keyed.read_s": median(by.get("read", [])),
            "keyed.jobs_per_read": median(jobs.get("read", [])),
            "keyed.lookup_s": median(by.get("lookup", [])),
            "keyed.jobs_per_lookup": median(jobs.get("lookup", [])),
            "keyed.compact_s": median(by.get("compact", [])),
            "keyed.pending_deltas": median(p["pending"] for p in passes),
            "keyed.table_bytes": median(p["table_bytes"] for p in passes),
        }


WORKLOADS = {w.name: w for w in (CorpusDedup, KeyedCdc)}
