"""The workloads. Each one generates its inputs from the seed
(``prepare``), runs one operation through the package's public API
(``op``, the timed part), captures an operation's output as an Arrow
table (``capture``, untimed) and computes reference digests without
Spark (``references``).

All of them are closed-loop with a single client: the next operation
starts when the previous one has returned.
"""

from __future__ import annotations

import os

from digest import combine, digest_rows, digest_table
from inputs import make_documents, write_documents, write_slices
from tracing import Tracer

EXTRACT_COLS = ("doc_id", "spans", "lang", "n_spans", "publish_date", "tags",
                "outlinks")


def _replay_digest(docs) -> tuple[int, int]:
    """Reference digest of extracting ``docs`` in-process. Module-level
    so a spawn pool can run it."""
    rows = replay(docs, Tracer("", enabled=False))
    return digest_rows(rows, EXTRACT_COLS)


def replay(docs, tracer) -> list[dict]:
    """Extract ``documents`` rows in-process the way
    ``interleave_and_extract`` does: ``interleave_from_text`` first, then
    the oracle's ``extract_document``."""
    from crawspark.corpus import interleave_from_text
    from crawspark.oracle.extract import extract_document

    out = []
    for d in docs:
        with tracer.span("corpus.interleave"):
            d = interleave_from_text(d["doc_id"], d.get("text") or "",
                                     d.get("lang") or "en")
        with tracer.span("oracle.extract_document"):
            res = extract_document(d["doc_id"], d["spans"] or [])
        out.append({c: res[c] for c in EXTRACT_COLS})
    return out


class Workload:
    name = ""
    docs_per_op = 0
    # operations run after the cold one and before the timed window
    warmup_ops = 0

    def prepare(self, work: str, seed: int) -> None:
        raise NotImplementedError

    def key(self, i: int):
        return 0

    def op(self, spark, i: int, ctx):
        raise NotImplementedError

    def capture(self, out) -> tuple[object, dict]:
        """The operation's output as an Arrow table, plus counters."""
        return out, {}

    def references(self, keys, tracer, pool) -> dict:
        """Reference digest per operation key: in-process under the
        tracer when it is on, else on the process pool."""
        raise NotImplementedError

    def final_check(self, spark) -> bool:
        return True

    def components(self, spark, ctx) -> None:
        return None


class ExtractRounds(Workload):
    """Crawl-round requests: read a 100-doc slice, extract it with the
    fused interleave+extract hop, append the result to a snapshot table
    that is fresh for each run."""

    name = "extract_rounds"
    docs_per_op = 100
    table = "extracted"
    # The first requests after the cold one run up to 60% slower while
    # the JVM compiles the per-request planning and write path; they
    # settle after about ten. Without these the timed window would hold a
    # varying mix of settling and settled requests.
    warmup_ops = 12

    def prepare(self, work, seed):
        from crawspark.sources.tables import SnapshotParquetBackend

        docs = make_documents(seed, 50 * self.docs_per_op)
        self.slices = write_slices(os.path.join(work, "slices"), docs,
                                   self.docs_per_op)
        self.root = os.path.join(work, "table")
        self.backend = SnapshotParquetBackend(self.root)
        self._files: set[str] = set()

    def key(self, i):
        return i % len(self.slices)

    def op(self, spark, i, ctx):
        from crawspark.operators.extract import interleave_and_extract

        with ctx.layer("sources.read"):
            df = spark.read.parquet(self.slices[self.key(i)])
        with ctx.layer("operators.extract"):
            out = interleave_and_extract(df)
        with ctx.layer("sources.append"):
            self.backend.append(out, self.table)

    def _new_files(self) -> list[str]:
        now = {os.path.join(d, f)
               for d, _, files in os.walk(self.root) for f in files}
        fresh = sorted(now - self._files)
        self._files = now
        return fresh

    def capture(self, out):
        """The data files this append added, read back as one table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fresh = self._new_files()
        data = [f for f in fresh if f.endswith(".parquet")]
        extra = {"files_written": len(data),
                 "manifest_bytes": sum(os.path.getsize(f) for f in fresh
                                       if f.endswith(".json"))}
        return pa.concat_tables(pq.read_table(f) for f in data), extra

    def references(self, keys, tracer, pool):
        import pyarrow.parquet as pq

        keys = sorted(set(keys))
        docs = [pq.read_table(self.slices[k]).to_pylist() for k in keys]
        if tracer.enabled:
            digests = [digest_rows(replay(d, tracer), EXTRACT_COLS)
                       for d in docs]
        else:
            digests = pool.map(_replay_digest, docs)
        return dict(zip(keys, digests))

    def final_check(self, spark):
        """The committed table holds exactly the rows the appends wrote."""
        import pyarrow.parquet as pq

        table = self.backend.read(spark, self.table).toArrow()
        data = [f for f in self._files if f.endswith(".parquet")]
        written = combine(digest_rows(pq.read_table(f).to_pylist(),
                                      EXTRACT_COLS) for f in data)
        return digest_table(table) == written


class CurateV3(Workload):
    """The registered ``curate_corpus_v3`` query over a seeded documents
    table; construction is timed too, because its eager
    ``localCheckpoint`` calls run jobs there."""

    name = "curate_v3"
    docs_per_op = 500
    # The operations after the cold one settle over three (about 8.2,
    # then 7.0, then 6.5 s); timing the first of them gave run-to-run
    # spreads near 0.16, the second near 0.09. A second untimed
    # operation would cost 7-13 s in every run of a budgeted set.
    warmup_ops = 1

    def prepare(self, work, seed):
        self.sf_dir = os.path.join(work, "sf")
        write_documents(self.sf_dir, make_documents(seed, self.docs_per_op))

    def op(self, spark, i, ctx):
        from crawspark.registry import REGISTRY, load_all

        load_all()
        with ctx.layer("curate.v3"):
            df = REGISTRY["curate_corpus_v3"].spark(spark, self.sf_dir)
        with ctx.layer("materialize"):
            return df.toArrow()

    def references(self, keys, tracer, pool):
        import duckdb

        from crawspark.registry import REGISTRY, load_all

        load_all()
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{self.sf_dir}/documents.parquet')")
            sql = REGISTRY["curate_corpus_v3"].render_sql(self.sf_dir)
            return {0: digest_table(con.execute(sql).fetch_arrow_table())}
        finally:
            con.close()

    def components(self, spark, ctx):
        """Time the query's components as their own calls."""
        from crawspark.operators.curate import curate_corpus_v2
        from crawspark.operators.dedup import dedup_minhash_resolve
        from crawspark.operators.lmquality import (
            boilerplate_corpus_lines,
            dsir_importance_weights,
            ppl_buckets,
        )

        for name, call in (
                ("dedup.minhash_resolve", dedup_minhash_resolve),
                ("curate.v2", curate_corpus_v2),
                ("lmquality.ppl_buckets", ppl_buckets),
                ("lmquality.boilerplate", boilerplate_corpus_lines),
                ("lmquality.dsir", dsir_importance_weights)):
            with ctx.layer(name):
                call(spark, self.sf_dir).toArrow()


WORKLOADS = {w.name: w for w in (ExtractRounds, CurateV3)}
