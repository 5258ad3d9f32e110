"""The benchmarked flows, each driven through the library's public
functions, with its DuckDB twin.

A flow has three phases per operation:

- ``land(i)``   writes op ``i``'s inputs to a new directory (untimed: it
                stands in for the remote source delivering a batch);
- ``run(i)``    the timed operation, with spans around each layer call;
- ``check(i)``  after the timed window, compares what op ``i`` produced
                with the DuckDB twin built from the same generated inputs
                by composing the library's own ``ORACLE`` SQL.

``prepare`` is the repeatable part of set-up (input generation and
seeding); ``land(i, warm=True)`` draws warm-up inputs from a separate
stream so the timed ops see the same inputs however long warm-up takes.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
from pyspark.sql import functions as F

from flowbench import gen
from labelmain_spark.functions import contamination, dedup, packing, sampling, text
from labelmain_spark.functions.contamination import decontaminate_spans
from labelmain_spark.functions.dedup import dedup_exact, dedup_minhash
from labelmain_spark.functions.packing import shard_manifest
from labelmain_spark.functions.sampling import sample_token_budget
from labelmain_spark.functions.text import c4_line_filter, text_quality
from labelmain_spark.labelstore import store as lstore
from labelmain_spark.labelstore.layout import BUCKET_COL, lookup_partitioned, write_partitioned
from labelmain_spark.operators.merge import merge_add_to_set
from labelmain_spark.pipeline import MIN_QUALITY
from labelmain_spark.sources import htmlparse, paged
from labelmain_spark.sources.formats import write_silver
from labelmain_spark.sources.writers import publish_corpus


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    n = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                n += os.path.getsize(os.path.join(root, name))
                files += 1
    return n, files


def scan_files(df) -> int:
    """Files the executed plan's scans read (the ``numFiles`` metric)."""
    todo, n = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        m = node.metrics()
        if m.contains("numFiles"):
            n += m.apply("numFiles").value()
        kids = node.children()
        todo.extend(kids.apply(k) for k in range(kids.size()))
    return n


def _duck():
    import duckdb  # imported late: the driver's own memory is read before it

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    return con


def _label(name, date, typ, desc, src):
    return F.struct(name.alias("name"), date.alias("date"), typ.alias("type"),
                    desc.alias("desc"), src.alias("src"))


def _label_doc(df, label):
    """One store doc per addr from per-row labels."""
    return df.groupBy(F.format_string("addr%08d", F.col("user_id")).alias("addr")).agg(
        F.array_sort(F.array_distinct(F.collect_list(label))).alias("labels")
    )


_FLAT_OF_STORE = """
    SELECT addr, l.name AS name, l.date AS date, l.type AS type, l."desc" AS "desc",
           l.src AS src
    FROM (SELECT addr, unnest(labels) AS l FROM got)
"""


def _read_store_sql(path: str) -> str:
    return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"


class LabelRefresh:
    """Write path: land a batch (paged JSON snapshot of one source plus
    HTML report pages of another), parse it to bronze, merge it into the
    store and rewrite the store as a new generation, then read back a
    few of the touched addresses. The store is seeded in set-up from the
    generated history through ``write_partitioned``; the twin keeps the
    store as a flat label table."""

    name = "label_refresh"
    n_lookups = 2

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark, self.tr, self.root, self.seed = spark, tracer, root, seed
        os.makedirs(root, exist_ok=True)
        self.duck = _duck()

    def prepare(self) -> None:
        self.hist = gen.LabelHistory(self.seed)
        flat = gen.flat_table(self.hist.flat_labels())
        self.duck.register("flat_arrow", flat)
        self.duck.execute("CREATE TABLE flat AS SELECT DISTINCT * FROM flat_arrow")
        self.duck.unregister("flat_arrow")
        seed_file = os.path.join(self.root, "seed.parquet")
        self.duck.execute(
            f"""COPY (SELECT addr, list({{'name': name, 'date': date, 'type': type,
                                         'desc': "desc", 'src': src}}) AS labels
                      FROM flat GROUP BY addr) TO '{seed_file}' (FORMAT parquet)"""
        )
        self.store_path = os.path.join(self.root, "store", "gen-0")
        with self.tr.span("labelstore.layout.write"):
            write_partitioned(self.spark.read.parquet(seed_file), self.store_path)
        self.batches: dict[int, dict] = {}
        self.gen_paths = {-1: self.store_path}
        self.warm_hist = None
        paged.register(self.spark)

    def lookup(self, path: str, addr: str, files_read: list) -> list:
        with self.tr.span("labelstore.layout.lookup"):
            with self.tr.span("labelstore.layout.lookup.build", build=True):
                df = lookup_partitioned(self.spark, path, addr)
            rows = [r.asDict(recursive=True) for r in df.collect()]
        if self.tr.enabled:
            files_read.append(scan_files(df))
        return rows

    def check_lookup(self, addr: str, rows: list) -> bool:
        got = sorted(
            (addr, l["name"], l["date"], l["type"], l["desc"], l["src"])
            for r in rows for l in r["labels"]
        )
        want = sorted(self.duck.execute("SELECT * FROM flat WHERE addr = ?", [addr]).fetchall())
        return len(rows) == (1 if want else 0) and got == want

    def land(self, i: int, warm: bool = False) -> dict:
        if warm:  # warm-up batches come from their own history and store
            if self.warm_hist is None:
                self.warm_hist = gen.LabelHistory(self.seed + 7919)
            hist, tag = self.warm_hist, f"warm-{i}"
        else:
            hist, tag = self.hist, f"op-{i}"
        b = hist.next_batch()
        d = os.path.join(self.root, "batches", tag)
        pages = paged.write_page_fixture(os.path.join(d, "paged"), b["paged"])
        gen.write_events(os.path.join(d, "events.parquet"), b["events"])
        rng = random.Random(f"{self.seed}-{tag}")
        probe = [gen.addr_of(e[2]) for e in rng.sample(b["events"], self.n_lookups)]
        inp = {"dir": d, "pages": pages, "touched": b["touched"], "probe": probe,
               "input_bytes": dir_bytes(d)[0], "records": len(b["events"]) + len(b["paged"])}
        if not warm:
            self.batches[i] = b
        return inp

    def run(self, i: int, inp: dict) -> dict:
        spark, tr, d = self.spark, self.tr, inp["dir"]
        prev = self.gen_paths[i - 1] if i >= 0 else self.store_path
        out = os.path.join(self.root, "store-run", f"gen-{i + 1}" if i >= 0 else f"warm-{-i}")
        with tr.span("sources.paged.read"):
            ev = spark.read.format("paged_json").option("path", os.path.join(d, "paged")).load()
            write_silver(ev, os.path.join(d, "bronze_paged"))
        with tr.span("sources.htmlparse.parse"):
            write_silver(htmlparse.parse_html_reports(spark, d), os.path.join(d, "bronze_reports"))
        with tr.span("labelstore.store.build", build=True):
            store = spark.read.parquet(prev).drop(BUCKET_COL)
            chain = _label_doc(
                spark.read.parquet(os.path.join(d, "bronze_paged")),
                _label(F.col("event_type"), F.lit(None).cast("string"), F.lit("chain"),
                       F.col("event_id").cast("string"), F.lit("chainAbuse")),
            )
            refreshed = lstore.refresh_source(store, "chainAbuse", chain)
        with tr.span("operators.merge.build", build=True):
            abuse = _label_doc(
                spark.read.parquet(os.path.join(d, "bronze_reports")),
                _label(F.lit("abuse"), F.col("report_date"), F.col("abuse_type"),
                       F.col("description"), F.lit("bitcoinAbuse")),
            )
            merged = merge_add_to_set(refreshed, abuse, "addr", "labels")
        with tr.span("labelstore.layout.write"):
            write_partitioned(merged, out)
        files: list[int] = []
        rows = [self.lookup(out, a, files) for a in inp["probe"]]
        if i >= 0:
            self.gen_paths[i] = out
        store_bytes, store_files = dir_bytes(out)
        written = store_bytes + sum(
            dir_bytes(os.path.join(d, b))[0] for b in ("bronze_paged", "bronze_reports"))
        return {"i": i, "out": out, "rows": rows, "probe": inp["probe"], "written": written,
                "records": inp["records"], "touched": inp["touched"], "pages": inp["pages"],
                "store_bytes": store_bytes, "store_files": store_files, "files_read": files}

    def check(self, rec: dict) -> bool:
        """Advance the twin by op ``rec['i']`` and compare the whole new
        store generation plus the read-your-write lookups."""
        b = self.batches.pop(rec["i"])
        con = self.duck
        con.register("events_arrow", pa.table(
            {"event_id": [e[0] for e in b["events"]], "ts": [e[1] for e in b["events"]],
             "user_id": [e[2] for e in b["events"]], "event_type": [e[3] for e in b["events"]]}))
        con.execute("CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM events_arrow")
        reports = con.execute(htmlparse.ORACLE["parse_html_reports"]).arrow()
        con.register("paged_arrow", pa.table(
            {"event_id": [r[0] for r in b["paged"]], "user_id": [r[1] for r in b["paged"]],
             "event_type": [r[2] for r in b["paged"]], "value": [r[3] for r in b["paged"]]}))
        con.execute("CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM paged_arrow")
        chain = con.execute(paged.ORACLE["paged_source_scan"]).arrow()
        con.register("reports", reports)
        con.register("chain", chain)
        con.execute(
            """CREATE OR REPLACE TABLE flat AS
               SELECT * FROM flat WHERE src <> 'chainAbuse'
               UNION
               SELECT printf('addr%08d', user_id), 'abuse', report_date, abuse_type,
                      description, 'bitcoinAbuse' FROM reports
               UNION
               SELECT printf('addr%08d', user_id), event_type, CAST(NULL AS VARCHAR),
                      'chain', CAST(event_id AS VARCHAR), 'chainAbuse' FROM chain"""
        )
        con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM {_read_store_sql(rec['out'])}")
        diff = con.execute(
            f"""SELECT (SELECT count(*) FROM (({_FLAT_OF_STORE}) EXCEPT ALL (SELECT * FROM flat)))
                     + (SELECT count(*) FROM ((SELECT * FROM flat) EXCEPT ALL ({_FLAT_OF_STORE}))),
                       (SELECT count(*) - count(DISTINCT addr) FROM got)"""
        ).fetchone()
        ok = diff == (0, 0)
        return ok and all(self.check_lookup(a, r) for a, r in zip(rec["probe"], rec["rows"]))


class CorpusRefine:
    """Corpus path: one documents batch per op through c4 cleaning and
    the quality gate, exact and MinHash dedup, span decontamination,
    token-budget sampling, the shard manifest and an atomic publish.
    Each stage's output lands as the next stage's ``documents`` table in
    a new directory."""

    name = "corpus_refine"
    n_docs = 1000

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark, self.tr, self.root, self.seed = spark, tracer, root, seed
        os.makedirs(root, exist_ok=True)
        self.duck = _duck()
        self.inputs: dict[int, pa.Table] = {}

    def prepare(self) -> None:
        self.publish_root = os.path.join(self.root, "published")

    def land(self, i: int, warm: bool = False) -> dict:
        tag = f"warm-{i}" if warm else f"op-{i}"
        docs = gen.documents(self.seed * 100_003 + (50_000 if warm else 0) + i, self.n_docs,
                             first_id=100_000 * (i + 64))
        d = os.path.join(self.root, "batches", tag)
        gen.write_documents(os.path.join(d, "s0"), docs)
        if not warm:
            self.inputs[i] = docs
        return {"dir": d, "records": docs.num_rows,
                "input_bytes": dir_bytes(os.path.join(d, "s0"))[0]}

    def _land(self, df, d: str, stage: str) -> str:
        out = os.path.join(d, stage)
        with self.tr.span("sources.formats.land"):
            write_silver(df, os.path.join(out, "documents.parquet"))
        return out

    def run(self, i: int, inp: dict) -> dict:
        spark, tr, d = self.spark, self.tr, inp["dir"]
        s0 = os.path.join(d, "s0")
        docs0 = spark.read.parquet(os.path.join(s0, "documents.parquet"))
        with tr.span("functions.text.c4_clean", build=True):
            c4 = c4_line_filter(spark, s0).filter("page_kept").select("doc_id")
        with tr.span("functions.text.quality", build=True):
            q = text_quality(spark, s0).filter(F.col("quality_score") >= MIN_QUALITY).select("doc_id")
        s1 = self._land(docs0.join(c4, "doc_id", "left_semi").join(q, "doc_id", "left_semi"), d, "s1")
        docs1 = spark.read.parquet(os.path.join(s1, "documents.parquet"))
        with tr.span("functions.dedup.exact", build=True):
            keep = dedup_exact(spark, s1).select(F.col("keep_doc_id").alias("doc_id"))
        with tr.span("functions.dedup.minhash", build=True):
            near = dedup_minhash(spark, s1).select(F.col("doc_b").alias("doc_id"))
        s2 = self._land(docs1.join(keep, "doc_id", "left_semi").join(near, "doc_id", "left_anti"),
                        d, "s2")
        with tr.span("functions.contamination.decontaminate"):
            clean = decontaminate_spans(spark, s2)
            s3 = self._land(
                clean.filter(F.col("n_tokens") > F.col("n_removed"))
                .select("doc_id", F.col("clean_text").alias("text")), d, "s3")
        docs3 = spark.read.parquet(os.path.join(s3, "documents.parquet"))
        with tr.span("functions.sampling.token_budget"):
            picked = sample_token_budget(spark, s3).select("doc_id")
            s4 = self._land(docs3.join(picked, "doc_id", "left_semi"), d, "s4")
        with tr.span("functions.packing.manifest"):
            manifest = [tuple(r) for r in shard_manifest(spark, s4).collect()]
        with tr.span("sources.writers.publish"):
            version = publish_corpus(spark, s4, self.publish_root)
        out = os.path.join(self.publish_root, version)
        written = sum(dir_bytes(os.path.join(d, s))[0] for s in ("s1", "s2", "s3", "s4"))
        return {"i": i, "dir": d, "manifest": manifest, "published": out,
                "published_bytes": dir_bytes(out)[0], "written": written + dir_bytes(out)[0],
                "records": inp["records"], "docs_out": sum(m[1] for m in manifest)}

    def check(self, rec: dict) -> bool:
        """Twin: the same chain in DuckDB from the generated batch, each
        stage the library's ORACLE SQL over a ``documents`` view."""
        con = self.duck
        con.register("s0", self.inputs.pop(rec["i"]))

        def stage(src: str, sql: str, name: str) -> None:
            con.execute(f"CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM {src}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")

        stage("s0", text.ORACLE["c4_line_filter"], "c4")
        stage("s0", text.ORACLE["text_quality"], "q")
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE t1 AS SELECT * FROM s0
                WHERE doc_id IN (SELECT doc_id FROM c4 WHERE page_kept)
                  AND doc_id IN (SELECT doc_id FROM q WHERE quality_score >= {MIN_QUALITY})""")
        stage("t1", dedup.ORACLE["dedup_exact"], "ex")
        stage("t1", dedup.ORACLE["dedup_minhash"], "mh")
        con.execute(
            """CREATE OR REPLACE TEMP TABLE t2 AS SELECT * FROM t1
               WHERE doc_id IN (SELECT keep_doc_id FROM ex)
                 AND doc_id NOT IN (SELECT doc_b FROM mh)""")
        stage("t2", contamination.ORACLE["decontaminate_spans"], "dc")
        con.execute(
            """CREATE OR REPLACE TEMP TABLE t3 AS SELECT doc_id, clean_text AS text FROM dc
               WHERE n_tokens > n_removed""")
        stage("t3", sampling.ORACLE["sample_token_budget"], "tb")
        con.execute(
            "CREATE OR REPLACE TEMP TABLE t4 AS SELECT * FROM t3 WHERE doc_id IN (SELECT doc_id FROM tb)")
        stage("t4", packing.ORACLE["shard_manifest"], "man")
        stage("t4", packing.ORACLE["shard_pack"], "pack")
        want_manifest = sorted(con.execute("SELECT * FROM man").fetchall())
        diff = con.execute(
            f"""WITH got AS (SELECT doc_id, text, CAST(shard_id AS BIGINT) AS shard_id
                             FROM read_parquet('{rec['published']}/*/*.parquet',
                                               hive_partitioning = true)),
                     want AS (SELECT doc_id, text, shard_id FROM t4 JOIN pack USING (doc_id))
                SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))
                     + (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"""
        ).fetchone()[0]
        con.unregister("s0")
        return diff == 0 and sorted(rec["manifest"]) == want_manifest


FLOWS = {f.name: f for f in (LabelRefresh, CorpusRefine)}
