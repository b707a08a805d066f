"""The seeded workloads: inputs, the timed operation mix, and checks.

Every workload times the same three roles, so that each end-to-end metric
in BENCHMARK.json is measured on every workload:

    read   the workload's bulk read
    probe  the workload's narrow read
    write  the workload's incremental write

Its bulk build runs once in set-up. Other operations (``analyze`` on
table_io, the text-ingestion step in ann_serve's warm-up) are checked like
the roles but show only in the summary and in the traced run's per-layer
counters.

An operation is a zero-argument callable that performs the library call and
returns a zero-argument ``verify`` callable. The runner times the operation
alone and runs ``verify`` outside the timed region; ``verify`` raises
``WrongOutput`` when the output disagrees with what the seed's generator
says it must be.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


class WrongOutput(Exception):
    """An operation returned an output that disagrees with the generator."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise WrongOutput(what)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass(frozen=True)
class Sizes:
    # table_io
    rows: int
    partitions: int
    write_rows: int
    # ann_serve
    vectors: int
    dim: int
    clusters: int
    query_batch: int
    append_rows: int
    # the ingestion step of ann_serve's warm-up
    docs: int
    batch_docs: int
    vocab: int


SIZES = {
    "full": Sizes(
        rows=1_000_000, partitions=16, write_rows=62_500,
        vectors=10_000, dim=64, clusters=1_000, query_batch=32,
        append_rows=500,
        docs=2_000, batch_docs=1_000, vocab=20_000,
    ),
    # the smoke test's size: every code path, seconds per run
    "tiny": Sizes(
        rows=8_000, partitions=4, write_rows=1_000,
        vectors=1_000, dim=16, clusters=100, query_batch=8,
        append_rows=50,
        docs=600, batch_docs=100, vocab=2_000,
    ),
}


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, sizes: Sizes,
                 corrupt: bool = False) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.sizes = sizes
        # smoke-test hook: perturb one expected value so a check must fail
        self.corrupt = corrupt
        self.rng = np.random.default_rng(seed)
        self.user_bytes = 0
        self.input_rows = 0

    def setup(self) -> float:
        """Generate inputs and run the bulk build; return the build's
        wall time in seconds."""
        raise NotImplementedError

    def cycle(self, i: int) -> list[tuple[str, object]]:
        """The ``i``-th round of the operation mix: (role, operation).
        Round 0 is the untimed warm-up."""
        raise NotImplementedError

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def quality_ok(self) -> bool:
        """Checks over the whole run, after every operation passed."""
        return True

    def _parquet(self, name: str, table: pa.Table) -> str:
        path = os.path.join(self.work_dir, "input", name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return path


# --------------------------------------------------------------------------
# table_io: the reference surface (scan, pruned scan, static overwrite,
# table statistics) over one catalog table.


class TableIO(Workload):
    name = "table_io"
    table = "bench.sales"
    columns = ("id", "k", "price")

    def _rows(self, n: int, id0: int) -> dict[str, np.ndarray]:
        # prices are multiples of 1/4, so every sum is exact in float64
        # whatever order Spark adds them in
        return {
            "id": np.arange(id0, id0 + n, dtype=np.int64),
            "k": self.rng.integers(0, 1000, n, dtype=np.int32),
            "price": self.rng.integers(0, 40_000, n).astype(np.float64) / 4,
            "tag": self.rng.choice(
                np.array(["red", "green", "blue", "cyan", "amber"]), n
            ),
        }

    @staticmethod
    def _totals(cols: dict[str, np.ndarray]) -> tuple:
        return (
            len(cols["id"]),
            int(cols["k"].sum()),
            float(cols["price"].sum()),
            int(cols["id"].sum()),
        )

    @staticmethod
    def _row_bytes(cols: dict[str, np.ndarray]) -> int:
        """User bytes: fixed-width columns, tag characters and the
        10-character ds value of every row."""
        n = len(cols["id"])
        tag_bytes = int(np.char.str_len(cols["tag"].astype(str)).sum())
        return n * (8 + 4 + 8 + 10) + tag_bytes

    def setup(self) -> float:
        from pyspark.sql import types as T

        from hive_io_experimental_spark.catalog import Catalog
        from hive_io_experimental_spark.input import HiveInput
        from hive_io_experimental_spark.output import HiveOutput
        from hive_io_experimental_spark.schema import HiveTableSchema

        s = self.sizes
        self.catalog = Catalog(os.path.join(self.work_dir, "warehouse"))
        self.catalog.create_table(self.table, HiveTableSchema(
            (("id", T.LongType()), ("k", T.IntegerType()),
             ("price", T.DoubleType()), ("tag", T.StringType())),
            partition_keys=("ds",),
        ))
        self.inp = HiveInput(self.spark, self.catalog)
        self.out = HiveOutput(self.spark, self.catalog)
        self.parts = [f"2024-01-{d + 1:02d}" for d in range(s.partitions)]
        cols = self._rows(s.rows, 0)
        part_of = self.rng.integers(0, s.partitions, s.rows)
        # expected per-partition totals and user bytes, updated by every
        # overwrite
        self.expected, self.part_bytes = {}, {}
        for j, p in enumerate(self.parts):
            sub = {c: v[part_of == j] for c, v in cols.items()}
            self.expected[p] = self._totals(sub)
            self.part_bytes[p] = self._row_bytes(sub)
        self.user_bytes = sum(self.part_bytes.values())
        self.input_rows = s.rows
        cols["ds"] = np.array(self.parts)[part_of]
        src = self.spark.read.parquet(
            self._parquet("sales.parquet", pa.table(cols))
        )
        # overwrite batches: a few seeded variants, cached so a timed write
        # measures the write path and not the generator
        self.batches = []
        for v in range(2):
            b = self._rows(s.write_rows, s.rows + v * s.write_rows)
            df = self.spark.read.parquet(
                self._parquet(f"write_{v}.parquet", pa.table(b))
            ).cache()
            df.count()
            self.batches.append((df, self._totals(b), self._row_bytes(b)))
        t = time.perf_counter()
        specs = self.out.write_dynamic(self.table, src)
        build_s = time.perf_counter() - t
        expect(len(specs) == s.partitions, "write_dynamic partition count")
        return build_s

    def _table_totals(self) -> tuple:
        vals = list(self.expected.values())
        total = (
            sum(v[0] for v in vals), sum(v[1] for v in vals),
            sum(v[2] for v in vals), sum(v[3] for v in vals),
        )
        if self.corrupt:
            total = (total[0], total[1] + 1, total[2], total[3])
        return total

    def _scan(self, partition_filter: str = "") -> tuple:
        from pyspark.sql import functions as F

        from hive_io_experimental_spark.input import ScanSpec

        row = self.inp.read_table(ScanSpec(
            self.table, columns=self.columns,
            partition_filter=partition_filter,
        )).agg(
            F.count("*"), F.sum("k"), F.sum("price"), F.sum("id"),
        ).first()
        return tuple(0 if v is None else v for v in row)

    def scan_full(self):
        got = self._scan()
        want = self._table_totals()
        return lambda: expect(got == want, f"full scan {got} != {want}")

    def scan_pruned(self, part: str):
        got = self._scan(f"ds = '{part}'")
        want = self.expected[part]
        return lambda: expect(got == want, f"pruned scan {got} != {want}")

    def write_partition(self, part: str, variant: int):
        from hive_io_experimental_spark.output import WriteSpec

        df, totals, nbytes = self.batches[variant]
        self.out.write_table(
            WriteSpec(self.table, {"ds": part}, drop_partition=True), df
        )
        self.expected[part] = totals
        self.user_bytes += nbytes - self.part_bytes[part]
        self.part_bytes[part] = nbytes

        def verify():
            st = self.out.last_write_stats
            expect(st is not None and int(st.n_rows) == totals[0],
                   "write_table observed row count")

        return verify

    def analyze(self):
        from hive_io_experimental_spark import analyze

        stats = analyze.analyze_table(
            self.spark, self.catalog, self.table, ("k", "price")
        )
        n = self._table_totals()[0]

        def verify():
            for c in ("k", "price"):
                expect(stats[c]["n_nonnull"] == n, f"analyze n_nonnull({c})")

        return verify

    def cycle(self, i: int):
        part = self.parts[i % len(self.parts)]
        # the pruned scan reads back the partition just overwritten, so
        # it is also the write's readback check through HiveInput
        ops = [
            ("read", self.scan_full),
            ("write", lambda: self.write_partition(part, i % 2)),
            ("probe", lambda: self.scan_pruned(part)),
        ]
        if i == 0:
            # the operations are short: warm up with two rounds
            return ops + ops + [("analyze", self.analyze)]
        # ANALYZE costs about four other operations; running it every
        # other round leaves more samples of the three roles
        return ops + [("analyze", self.analyze)] if i % 2 else ops

    def stored_bytes(self) -> int:
        return dir_bytes(self.catalog.table_location(self.table))


# --------------------------------------------------------------------------
# ann_serve: the IVF-PQ lifecycle, queries served while the index grows.


class AnnServe(Workload):
    name = "ann_serve"
    index = "bench.vec_idx"
    query_id0 = 1_000_000_000

    def _points(self, n: int) -> np.ndarray:
        s = self.sizes
        which = self.rng.integers(0, s.clusters, n)
        noise = self.rng.normal(0.0, 0.1, (n, s.dim))
        return (self.centers[which] + noise).astype(np.float32)

    def _frame(self, name: str, ids: np.ndarray, vecs: np.ndarray):
        arr = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), vecs.shape[1]
        ).cast(pa.list_(pa.float32()))
        path = self._parquet(name, pa.table({"vec_id": ids, "embedding": arr}))
        df = self.spark.read.parquet(path).cache()
        df.count()
        return df

    def setup(self) -> float:
        from hive_io_experimental_spark.catalog import Catalog
        from hive_io_experimental_spark.operators import similarity

        s = self.sizes
        self.catalog = Catalog(os.path.join(self.work_dir, "warehouse"))
        self.centers = self.rng.normal(0.0, 1.0, (s.clusters, s.dim))
        self.vecs = self._points(s.vectors)
        ids = np.arange(s.vectors, dtype=np.int64)
        self.ids = ids
        corpus = self._frame("corpus.parquet", ids, self.vecs)
        # query batches are reused round-robin; each append batch is new
        self.query_sets = []
        for b in range(4):
            qv = self._points(s.query_batch)
            qid = self.query_id0 + b * s.query_batch + np.arange(
                s.query_batch, dtype=np.int64
            )
            self.query_sets.append(
                (self._frame(f"queries_{b}.parquet", qid, qv), qid, qv)
            )
        self.version = None
        # recall@10 over every query served: hits against the exact top-10
        self.hits = self.served = 0
        # the ingestion layer: text dedup artifacts built here, one batch
        # ingested in the warm-up round
        self.ingest = IngestStage(
            self.spark, self.work_dir, int(self.rng.integers(1 << 31)),
            self.sizes, self.corrupt,
        )
        self.ingest.setup()
        self.user_bytes = s.vectors * (8 + 4 * s.dim)
        self.input_rows = s.vectors
        t = time.perf_counter()
        similarity.ivf_pq_build_index(
            self.spark, self.catalog, self.index, corpus
        )
        build_s = time.perf_counter() - t
        self.version = self.catalog.current_version(self.index)
        return build_s

    def _truth(self, qv: np.ndarray, k: int) -> np.ndarray:
        c = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        q = qv / np.linalg.norm(qv, axis=1, keepdims=True)
        sims = q @ c.T
        top = np.argpartition(-sims, k, axis=1)[:, :k]
        return self.ids[top]

    def query(self, b: int, n: int):
        from hive_io_experimental_spark.operators import similarity

        qdf, qid, qv = self.query_sets[b]
        if n < len(qid):
            qdf = qdf.limit(n)
            qid, qv = qid[:n], qv[:n]
        rows = similarity.ivf_pq_query_index(
            self.spark, self.catalog, self.index, qdf, k=10, nprobe=4,
        ).select("query_id", "neighbor_id").collect()

        def verify():
            got: dict[int, set] = {int(q): set() for q in qid}
            for r in rows:
                expect(r[0] in got, "query returned an unknown query id")
                got[r[0]].add(r[1])
            expect(all(len(v) == 10 for v in got.values()),
                   "a query did not return k=10 neighbours")
            truth = self._truth(qv, 10)
            self.hits += sum(len(got[int(q)] & set(t.tolist()))
                             for q, t in zip(qid, truth))
            self.served += 10 * len(qid)

        return verify

    def append(self, j: int):
        """Generate append batch ``j``; the index and the exact top-k
        ground truth take it in when the append is run."""
        s = self.sizes
        vecs = self._points(s.append_rows)
        base = s.vectors + j * s.append_rows
        ids = np.arange(base, base + s.append_rows, dtype=np.int64)
        df = self._frame(f"append_{j}.parquet", ids, vecs)

        def op():
            from hive_io_experimental_spark.operators import similarity

            before = self.version
            v = similarity.ivf_pq_append_to_index(
                self.spark, self.catalog, self.index, df
            )
            self.version = v
            self.vecs = np.vstack([self.vecs, vecs])
            self.ids = np.concatenate([self.ids, ids])
            self.user_bytes += s.append_rows * (8 + 4 * s.dim)
            want = before + 1 + (1 if self.corrupt else 0)
            return lambda: expect(
                v == want, f"append committed v{v}, want v{want}"
            )

        return op

    def cycle(self, i: int):
        s = self.sizes
        n = len(self.query_sets)
        if i == 0:
            # warm-up: the ingestion step, then query planning and scoring,
            # which settle only after a few calls, so two batches, one
            # lookup and one append
            ingest = [(f"ingest_{role}", op)
                      for role, op in self.ingest.cycle(0)]
            return ingest + [
                ("read", lambda: self.query(0, s.query_batch)),
                ("probe", lambda: self.query(1, 1)),
                ("read", lambda: self.query(2, s.query_batch)),
                ("write", self.append(1)),
            ]
        # one batch, one single-query lookup and one append per round, so
        # every role gets samples; append batches are generated before
        # timing starts
        return [
            ("read", lambda: self.query(i % n, s.query_batch)),
            ("probe", lambda: self.query((i + 1) % n, 1)),
            ("write", self.append(i + 1)),
        ]

    @property
    def recall(self) -> float:
        return self.hits / self.served if self.served else 0.0

    def quality_ok(self) -> bool:
        if self.recall >= RECALL_FLOOR:
            return True
        print(f"perfbench: recall@10 {self.recall:.3f} is below the floor "
              f"{RECALL_FLOOR}", file=sys.stderr)
        return False

    def stored_bytes(self) -> int:
        return dir_bytes(os.path.join(self.work_dir, "warehouse"))


# Lowest recall@10 a run may show over all its queries. The index is IVF-PQ
# with the library's defaults (4 subspaces, at most 128 codes each) over
# 64-dim clustered data, so recall is below 1: runs on seeds 1-10 measured
# 0.74 to 0.84. A broken probe, scorer or append falls far below the floor.
RECALL_FLOOR = 0.6


# --------------------------------------------------------------------------
# Text dedup ingestion against persisted artifacts: run once per ann_serve
# process (see AnnServe.setup), so the ingestion layer is measured without
# a workload of its own.


class IngestStage(Workload):
    name = "ingest"

    def _doc(self) -> list[str]:
        s = self.sizes
        n = int(self.rng.integers(30, 60))
        ranks = np.minimum(self.rng.zipf(1.2, n), s.vocab) - 1
        return [self.words[r] for r in ranks]

    def setup(self) -> float:
        from hive_io_experimental_spark.operators import ingestion

        s = self.sizes
        self.words = [f"w{j}" for j in range(s.vocab)]
        self.texts = [" ".join(self._doc()) for _ in range(s.docs)]
        self.path = os.path.join(self.work_dir, "artifacts")
        corpus = self.spark.read.parquet(self._parquet("docs.parquet", pa.table({
            "doc_id": np.arange(s.docs, dtype=np.int64),
            "text": self.texts,
        })))
        self.next_id = s.docs
        self.user_bytes = sum(len(t) + 8 for t in self.texts)
        self.input_rows = s.docs
        self.survivor_counts: list[tuple[int, int]] = []
        self.candidates: list[int] = []
        t = time.perf_counter()
        man = ingestion.build_corpus_artifacts(corpus, self.path)
        build_s = time.perf_counter() - t
        self.n_keys = int(man["n_keys"])
        expect(self.n_keys == len(set(self.texts)), "artifact n_keys")
        return build_s

    def _batch(self, i: int):
        """A batch with planted duplicates. Of every 10 docs: 1 repeats a
        stored doc with changed case and spacing (an exact duplicate after
        normalization), 1 repeats an earlier doc of the same batch, 1 is a
        stored doc with one word replaced (a near duplicate, which exact
        dedup keeps), and 7 are new."""
        s = self.sizes
        texts: list[str] = []
        for j in range(s.batch_docs):
            kind = j % 10
            if kind == 0:
                src = self.texts[int(self.rng.integers(0, len(self.texts)))]
                texts.append("  " + src.upper().replace(" ", "   ") + " ")
            elif kind == 1 and j >= 10:
                texts.append(texts[j - 10 + 3])
            elif kind == 2:
                words = self.texts[
                    int(self.rng.integers(0, len(self.texts)))
                ].split(" ")
                words[int(self.rng.integers(0, len(words)))] = "novel"
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(self._doc()))
        # a fresh doc may by chance repeat a stored text or another fresh
        # one; count distinct new normalized texts, which is exactly the
        # survivor count exact dedup must produce
        known = set(self.texts)
        seen: set[str] = set()
        want = 0
        for t in texts:
            norm = " ".join(t.lower().split())
            if norm not in known and norm not in seen:
                want += 1
            seen.add(norm)
        ids = np.arange(self.next_id, self.next_id + len(texts),
                        dtype=np.int64)
        self.next_id += len(texts)
        df = self.spark.read.parquet(self._parquet(
            f"batch_{i}.parquet", pa.table({"doc_id": ids, "text": texts})
        )).cache()
        df.count()
        self.user_bytes += sum(len(t) + 8 for t in texts)
        return df, ids, texts, want

    def cycle(self, i: int):
        from pyspark.sql import functions as F

        from hive_io_experimental_spark.operators import ingestion

        batch, ids, texts, want = self._batch(i)
        batch_ids = set(ids.tolist())
        if self.corrupt:
            want += 1
        state: dict = {}

        def exact():
            rows = ingestion.ingest_batch(batch, self.path).collect()
            state["ids"] = [r["id"] for r in rows]
            n = len(rows)
            return lambda: expect(n == want, f"survivors {n} != {want}")

        def near():
            rows = ingestion.ingest_batch_neardups(batch, self.path).collect()
            self.candidates.append(len(rows))
            return lambda: expect(
                all(r["batch_id"] in batch_ids for r in rows),
                "near-dup candidate outside the batch",
            )

        def append():
            survivors = state.get("ids", [])
            accepted = batch.filter(F.col("doc_id").isin(survivors))
            man = ingestion.append_to_artifacts(accepted, self.path)
            before = self.n_keys
            self.n_keys = int(man["n_keys"])
            for t in texts:
                self.texts.append(" ".join(t.lower().split()))
            self.survivor_counts.append((len(survivors), len(texts)))
            return lambda: expect(
                self.n_keys == before + len(survivors),
                "append_to_artifacts n_keys",
            )

        return [("read", exact), ("probe", near), ("write", append)]


WORKLOADS = {w.name: w for w in (TableIO, AnnServe)}
