"""Workload ``llm_pipeline``: the six-model LLM-data pipeline.

One operation is one ``Project.run`` with threads set to the core count,
into a fresh database: an ephemeral redact+quality model read by two
table models (persisted once and reused), exact dedup, token-budget
sampling, chunking, sequence packing (the Python/Arrow boundary) and a
stats view. The models are this benchmark's own copy of the pipeline, so
an engine change cannot change what is measured. The corpus has
``N_DOCS`` seeded word-salad documents with PII-shaped tokens, exact
copies and near copies. Stage row counts must repeat across runs and
match a DuckDB-plus-Python replica once per run.
"""

from __future__ import annotations

import datetime as dt
import os

import inputs

N_DOCS = 10_000
#: Large enough that sampling keeps the bulk of the corpus; the stage still
#: does its full prefix-sum work.
BUDGET = 50_000_000
CHUNK, STRIDE, PACK_CAP = 64, 48, 256
STAGES = ("dedup_keepers", "corpus", "sampled", "chunks", "packs")


def define(spark, docs, name: str, threads: int):
    """The pipeline as a Project of six models over the ``raw_docs``
    source."""
    from pyspark.sql import functions as F

    from dbt_analytics_spark.operators import dedup, packing, sampling, text
    from dbt_analytics_spark.plans import Project

    p = Project(spark, name=name, database=name, run_date=dt.date(2026, 1, 1),
                threads=threads)
    p.source_table("raw_docs", docs)

    @p.model(materialized="ephemeral")
    def cleaned(ctx):
        df = ctx.source("raw_docs").withColumn("text", text.redact_pii(F.col("text")))
        q = text.quality_columns(df)
        return q.filter(F.col("keep_quality")).select(
            "doc_id", "text", "lang", "source", "n_tokens")

    @p.model(materialized="table")
    def dedup_keepers(ctx):
        return dedup.exact_dedup_groups(ctx.ref("cleaned"), "doc_id")

    @p.model(materialized="table")
    def corpus(ctx):
        return ctx.ref("cleaned").join(
            ctx.ref("dedup_keepers").select(F.col("keep_id").alias("doc_id")), "doc_id")

    @p.model(materialized="table")
    def sampled(ctx):
        return sampling.token_budget_sample(ctx.ref("corpus"), ["lang"], budget=BUDGET)

    @p.model(materialized="table")
    def chunks(ctx):
        kept = ctx.ref("corpus").join(ctx.ref("sampled").select("doc_id"), "doc_id")
        return text.chunk_documents(kept, chunk_size=CHUNK, stride=STRIDE)

    @p.model(materialized="table")
    def packs(ctx):
        return packing.pack_sequences(
            ctx.ref("chunks").select(
                F.concat_ws("_", "doc_id", "chunk_idx").alias("doc_id"),
                F.col("chunk_text").alias("text"),
            ),
            max_tokens=PACK_CAP, id_col="doc_id", text_col="text",
        )

    @p.model(materialized="view")
    def corpus_stats(ctx):
        return ctx.ref("corpus").groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))

    return p


def duckdb_counts(docs_path: str) -> dict[str, int]:
    """The same pipeline in DuckDB SQL, plus the engine's exact Python
    packer for the procedural stage; returns the stage row counts."""
    import duckdb
    import numpy as np
    import pandas as pd

    from dbt_analytics_spark.operators.packing import _pack_group
    from dbt_analytics_spark.operators.shingle_arrow import xxh64_windows
    from dbt_analytics_spark.operators.text import PII_PATTERNS

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW raw_docs AS SELECT * FROM read_parquet('{docs_path}')")
        redacted = "text"
        for _, pat, repl in PII_PATTERNS:
            redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
        norm = "TRIM(regexp_replace(t, '\\s+', ' ', 'g'))"
        toks = f"string_split({norm}, ' ')"
        cleaned = f"""
          SELECT doc_id, t AS text, lang, source, n_tokens FROM (
            SELECT doc_id, t, lang, source,
                   CAST(len({toks}) AS INTEGER) AS n_tokens,
                   CASE WHEN len({toks}) > 0
                        THEN CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks})
                        ELSE 0.0 END AS ttr,
                   CASE WHEN len({toks}) > 0
                        THEN CAST(LENGTH(t) - (len({toks}) - 1) AS DOUBLE) / len({toks})
                        ELSE 0.0 END AS mtl
            FROM (SELECT doc_id, {redacted} AS t, lang, source FROM raw_docs)
          ) WHERE n_tokens >= 10 AND ttr >= 0.1 AND mtl >= 2.0 AND mtl <= 12.0"""
        con.execute(f"""CREATE TABLE dedup_keepers AS
            SELECT md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
                   MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM ({cleaned}) GROUP BY 1""")
        con.execute(f"""CREATE TABLE corpus AS SELECT c.* FROM ({cleaned}) c
            JOIN (SELECT keep_id AS doc_id FROM dedup_keepers) k USING (doc_id)""")
        con.execute(f"""CREATE TABLE sampled AS
            WITH t AS (
              SELECT lang, doc_id,
                     CAST(len(string_split(TRIM(regexp_replace(text, '\\s+', ' ', 'g')), ' '))
                          AS BIGINT) AS n_tok,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS draw
              FROM corpus
            ), c AS (
              SELECT lang, doc_id, n_tok, SUM(n_tok) OVER (
                PARTITION BY lang ORDER BY draw, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
              FROM t
            )
            SELECT lang, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
            FROM c WHERE cum_tok <= {BUDGET}""")
        con.execute(f"""CREATE TABLE chunks AS
            WITH t AS (
              SELECT c.doc_id,
                     string_split(TRIM(regexp_replace(c.text, '\\s+', ' ', 'g')), ' ') AS toks
              FROM corpus c JOIN (SELECT doc_id FROM sampled) s USING (doc_id)
            ), s AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= {CHUNK} THEN 1
                          ELSE CAST(ceil((len(toks) - {CHUNK}) / {STRIDE}.0) AS BIGINT) + 1
                     END AS n_chunks
              FROM t
            )
            SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                   CAST(len(toks[i * {STRIDE} + 1 : i * {STRIDE} + {CHUNK}]) AS INTEGER)
                       AS n_chunk_tokens
            FROM s, UNNEST(range(0, n_chunks)) AS g(i)""")
        sized = con.execute(
            "SELECT doc_id || '_' || CAST(chunk_idx AS VARCHAR) AS doc_id, "
            "CAST(n_chunk_tokens AS BIGINT) AS n_tokens FROM chunks"
        ).fetch_df()
        ids = sized["doc_id"].to_numpy()
        lens = np.array([len(i.encode("utf-8")) for i in ids], dtype=np.int64)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        buf = np.frombuffer("".join(ids).encode("utf-8"), dtype=np.uint8)
        sized["group_id"] = xxh64_windows(buf, starts, lens) % np.int64(64)
        packed = pd.concat(
            [_pack_group(g, PACK_CAP) for _, g in sized.groupby("group_id", sort=False)],
            ignore_index=True,
        )
        counts = {
            t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in STAGES[:-1]
        }
        counts["packs"] = len(packed)
        return counts
    finally:
        con.close()


class Workload:
    WARM_GROUPS = 0
    MIN_GROUPS = 1
    BUILD_SPANS = ("llm.define", "registry.compile")

    def __init__(self, run) -> None:
        self.run = run
        self.docs_path = None
        self.docs = None
        self.runs = 0
        self.counts: dict[str, int] | None = None
        self.db_bytes: list[int] = []
        self.last: dict = {}

    def make_inputs(self, dest: str) -> None:
        os.makedirs(dest)
        inputs.documents(os.path.join(dest, "documents.parquet"), self.run.seed, N_DOCS)

    def use_inputs(self, path: str) -> None:
        self.docs_path = os.path.join(path, "documents.parquet")

    def prepare(self) -> None:
        from dbt_analytics_spark.sources import load_testdata

        self.docs = load_testdata(self.run.spark, os.path.dirname(self.docs_path))["documents"]

    def group(self):
        yield "pipeline", self._pipeline

    def _pipeline(self) -> dict:
        name = f"llm{self.runs}"
        self.runs += 1
        tracer = self.run.tracer
        if tracer is not None and tracer.op_id is not None:
            with tracer.span("llm.define"):
                p = define(self.run.spark, self.docs, name, self.run.threads)
        else:
            p = define(self.run.spark, self.docs, name, self.run.threads)
        results = p.run()
        self.last = {"db": name, "project": p,
                     "results": [(r.node, r.status, r.execution_time) for r in results]}
        return self.last

    def check_op(self, name: str, out: dict) -> str | None:
        bad = {n: s for n, s, _ in out["results"] if s != "success"}
        if bad or len(out["results"]) != 6:
            return f"{len(out['results'])} nodes, not successful: {bad}"
        spark = self.run.spark
        counts = {t: spark.table(f"{out['db']}.{t}").count() for t in STAGES}
        self.db_bytes.append(self.run.stored(self._db_dir(out["db"]))[1])
        if self.counts is None:
            self.counts = counts
        elif counts != self.counts:
            return f"stage rows {counts} differ from the first run's {self.counts}"
        return None

    def _db_dir(self, db: str) -> str:
        return os.path.join(self.run.dir, "warehouse", f"{db}.db")

    def hook(self, tracer) -> None:
        from dbt_analytics_spark.plans import layout_catalog, materialize, registry

        tracer.wrap(registry.Project, "compile", "registry.compile")
        tracer.wrap(registry.Project, "run", "registry.run")
        tracer.wrap(materialize, "materialize", "materialize")
        tracer.wrap(layout_catalog, "route_source", "layout_catalog.route_source",
                    hit=lambda r: r is not None)

    def annotate(self, c: dict, spans: list) -> None:
        files, size = self.run.stored(self._db_dir(self.last["db"]))
        c["materialize_files"], c["materialize_bytes"] = files, size
        busy = sum(t for _, _, t in self.last["results"])
        wall = sum(sp.end - sp.start for sp in spans if sp.name == "registry.run")
        capacity = self.run.threads * wall
        c["idle_ratio"] = max(capacity - busy, 0.0) / capacity if capacity else 0.0
        c["node_s"] = {n: t for n, _, t in self.last["results"]}

    def check_run(self) -> tuple[int, int]:
        """Stage row counts against the DuckDB leg, once per run."""
        want = duckdb_counts(self.docs_path)
        self.run.sidecar["oracle"] = {"engine": self.counts, "duckdb": want}
        if self.counts != want:
            self.run.fail(f"stage rows {self.counts} differ from DuckDB's {want}")
            return 1, 1
        return 1, 0

    def stored_bytes(self) -> int:
        import statistics

        return int(statistics.median(self.db_bytes)) if self.db_bytes else 0
