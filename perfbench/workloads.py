"""The benchmark workloads: set-up, one timed operation, output checks
and the layer probes of the traced run.

- ``crawl_boilerplate``: CC-style pages whose chunks repeat; one
  operation is an extract -> dedup pass into a noop sink.
- ``crawl_gazetteer``: low-repetition pages against the Orders spec
  plus a 5,000-title gazetteer; same operation.
- ``nl_query``: one client in a closed loop; one operation is
  ``nl_filter(...).limit(100).collect()`` over generated ``orders`` and
  ``customer`` tables whose dictionaries setup infers.
"""

from __future__ import annotations

import multiprocessing
import os
import statistics
import time
from typing import Dict, List, Tuple

from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from nlquery_spark.kernel.extract import build_prescreen, build_recognizer, extract_text_triples
from nlquery_spark.kernel.table import ENGLISH_STOP_WORDS
from nlquery_spark.operators.dictionary import spec_from_dataframe
from nlquery_spark.operators.extract import dedup_triples, extract_triples
from nlquery_spark.operators.nlsql import conditions_to_predicate, nl_filter, parse_conditions

import gen
import layers
from spans import Tracer

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

NL_OPTIONS = {"stop_words": ENGLISH_STOP_WORDS + ["with", "where", "whose"]}
ROW_LIMIT = 100

# Input sizes: "full" is what the benchmark measures, "tiny" is for the
# smoke test.
SIZES = {
    "full": {
        "crawl_boilerplate": {"pages": 3000, "warmup_pages": 200, "warmup_ops": 5,
                              "trace_pages": 1000, "pipeline_pages": 100},
        "crawl_gazetteer": {"pages": 120, "warmup_pages": 8, "warmup_ops": 4,
                            "trace_pages": 30, "pipeline_pages": 40},
        "nl": {"customers": 15000, "orders": 60000, "requests": 4000, "warmup_ops": 50},
        # the nlsql probe on the crawl workloads
        "nl_side": {"customers": 6000, "orders": 20000, "requests": 30},
    },
    "tiny": {
        "crawl_boilerplate": {"pages": 200, "warmup_pages": 32, "warmup_ops": 1,
                              "trace_pages": 100, "pipeline_pages": 60},
        "crawl_gazetteer": {"pages": 24, "warmup_pages": 16, "warmup_ops": 1,
                            "trace_pages": 8, "pipeline_pages": 8},
        "nl": {"customers": 6000, "orders": 5000, "requests": 200, "warmup_ops": 5},
        "nl_side": {"customers": 6000, "orders": 5000, "requests": 10},
    },
}


def _triples_digest(rows: List[Tuple]) -> Tuple[int, str]:
    """Order-insensitive (count, sha256) of deduped triples."""
    return layers.rows_digest(
        (str(s), str(p), str(o), float(sc), int(su), int(st), int(en), str(r))
        for s, p, o, sc, su, st, en, r in rows
    )


def kernel_dedup(urls, texts, specs, options=None) -> List[Tuple]:
    """Single-process extraction plus the dedup aggregate
    (max score, count, min start, min end, min rule)."""
    rec = build_recognizer(specs, options)
    screen = build_prescreen(specs, options)
    memo: Dict = {}
    agg: Dict[Tuple[str, str, str], list] = {}
    for url, text in zip(urls, texts):
        for pred, obj, score, start, end, rule in extract_text_triples(
            text, rec, prescreen=screen, memo=memo
        ):
            a = agg.get((url, pred, obj))
            if a is None:
                agg[(url, pred, obj)] = [score, 1, start, end, rule]
            else:
                a[0] = max(a[0], score)
                a[1] += 1
                a[2] = min(a[2], start)
                a[3] = min(a[3], end)
                a[4] = min(a[4], rule)
    return [(s, p, o, *v) for (s, p, o), v in agg.items()]


def kernel_dedup_pages(pdf, specs, nproc: int) -> List[Tuple]:
    """``kernel_dedup`` over every page, with the pages dealt out to
    ``nproc`` forked processes. Each page's triples are keyed by its url,
    so the slices' outputs never overlap and their union is the
    single-process output. Forked, not spawned: a spawn pool starts
    multiprocessing's resource tracker, which ignores SIGTERM and lives
    until this process exits. The children run only the pure-Python
    kernel, which takes no lock that this process's py4j threads hold."""
    slices = [(pdf["url"].iloc[i::nproc].tolist(), pdf["text"].iloc[i::nproc].tolist(), specs)
              for i in range(nproc)]
    pool = multiprocessing.get_context("fork").Pool(nproc)
    try:
        parts = pool.starmap(kernel_dedup, slices)
    finally:
        pool.close()
        pool.join()
    return [t for part in parts for t in part]


class Workload:
    """Shared shape: ``setup`` (repeatable), ``warmup`` (once, after
    the last setup; then ``cfg["warmup_ops"]`` untimed operations),
    ``op`` (one timed operation returning (items, outputs)), ``check``
    (run after the timed window) and ``probe`` (traced run only)."""

    op_timeout_s = 60.0

    def __init__(self, spark, seed: int, size: str, nproc: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.nproc = nproc
        self.workdir = workdir
        self.problems: List[str] = []
        self.timings: Dict[str, List[float]] = {}

    def _time(self, name: str, t0: float) -> None:
        self.timings.setdefault(name, []).append(time.perf_counter() - t0)

    def after_op(self) -> None:
        """Checks the output of the last successful operation, outside
        its timing."""


class Crawl(Workload):
    def __init__(self, spark, seed, size, nproc, workdir, gazetteer: bool):
        super().__init__(spark, seed, size, nproc, workdir)
        self.gazetteer = gazetteer
        self.cfg = SIZES[size]["crawl_gazetteer" if gazetteer else "crawl_boilerplate"]
        self.specs = [gen.ORDERS_SPEC]
        if gazetteer:
            self.specs.append(gen.titles_spec())
        self.pages = None

    def _generate(self):
        if self.gazetteer:
            titles = self.specs[1]["columns"][0]["values"]
            return gen.gazetteer_pages(self.seed, self.cfg["pages"], titles)
        return gen.boilerplate_pages(self.seed, self.cfg["pages"])

    def setup(self) -> None:
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        t0 = time.perf_counter()
        self.pdf = self._generate()
        self.pages = self._frame(self.pdf).persist()
        self.pages.count()
        self._time("sources.generate_s", t0)
        self.pass_counts: List[int] = []

    def warmup(self) -> None:
        # one whole pass: a slice starts every Python worker and compiles
        # the recognizer in each, but the first passes over all the pages
        # still ran slower than the later ones. Its triples are kept for
        # the output check.
        self.warm_triples = dedup_triples(extract_triples(self.pages, self.specs)).toPandas()

    def _frame(self, pdf):
        # one partition per core, as the large input splits of a crawl
        # give: every task pays a fixed start-up cost, and 16 tasks per
        # pass took up to twice as long as 4 over the same pages
        return self.spark.createDataFrame(pdf, PAGES_SCHEMA).repartition(self.nproc)

    def op(self, tracer: Tracer) -> Tuple[int, int]:
        n = layers.noop_sink(dedup_triples(extract_triples(self.pages, self.specs)))
        self.pass_counts.append(n)
        return len(self.pdf), n

    def check(self) -> Dict:
        """The Spark triples of the warm-up pass equal, by an
        order-insensitive digest, the single-process kernel output over
        all the pages, and every timed pass output as many triples."""
        spark_digest = _triples_digest(
            self.warm_triples[["subj", "pred", "obj", "score", "support", "start", "end", "rule"]]
            .itertuples(index=False, name=None)
        )
        kernel_digest = _triples_digest(kernel_dedup_pages(self.pdf, self.specs, self.nproc))
        if spark_digest != kernel_digest:
            self.problems.append(
                f"spark triples {spark_digest} != kernel triples {kernel_digest}"
            )
        wrong = sorted({n for n in self.pass_counts if n != kernel_digest[0]})
        if wrong:
            self.problems.append(f"timed passes output {wrong} triples, expected {kernel_digest[0]}")
        return {"checked_pages": len(self.pdf), "checked_triples": kernel_digest[0]}

    def probe(self, tracer: Tracer, main_op_s: float) -> Dict[str, float]:
        texts = list(self.pdf["text"][: self.cfg["trace_pages"]])
        out = layers.kernel_replay(tracer, texts, self.specs)
        out.update(
            layers.extract_probe(
                tracer, self.pages, self._frame(self.pdf.iloc[: self.cfg["warmup_pages"]]),
                len(self.pdf), self.specs, None, self.nproc,
                out["kernel.pages_per_s_1proc"], full_pass_s=main_op_s,
            )
        )
        out.update(
            layers.pipeline_probe(
                tracer, self.spark, self._frame(self.pdf.iloc[: self.cfg["pipeline_pages"]]),
                self.specs, None,
                os.path.join(self.workdir, "pipeline"), self.problems,
            )
        )
        out.update(nlsql_side_probe(self.spark, tracer, self.seed, self.size, self.problems))
        return out


class NLTables:
    """Generated ``customer`` and ``orders`` tables, persisted, with
    dictionaries inferred by ``spec_from_dataframe``."""

    def __init__(self, spark, seed: int, cfg: Dict):
        self.spark = spark
        self.seed = seed
        self.cfg = cfg
        self.dfs: Dict = {}

    def build(self, timings: Dict[str, List[float]]) -> None:
        for df in self.dfs.values():
            df.unpersist(blocking=True)
        t0 = time.perf_counter()
        self.pdfs = gen.nl_tables(self.seed, self.cfg["customers"], self.cfg["orders"])
        self.dfs = {
            t: self.spark.createDataFrame(pdf).persist()
            for t, pdf in self.pdfs.items()
        }
        for df in self.dfs.values():
            df.count()
        timings.setdefault("sources.generate_s", []).append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.specs = {
            t: spec_from_dataframe(
                self.dfs[t], t, value_columns=list(gen.CAPTIONS[t]),
                caption_overrides=gen.CAPTIONS[t],
            )
            for t in self.dfs
        }
        timings.setdefault("dictionary.spec_infer_s", []).append(time.perf_counter() - t0)
        self.indexed = {t: pdf.set_index(gen.KEYS[t], drop=False) for t, pdf in self.pdfs.items()}
        self._expected: Dict[str, set] = {}

    def request(self, table: str, text: str, tracer: Tracer) -> list:
        """One NL request. Traced, the two halves of ``nl_filter`` run
        as separate calls so that parse and execute get their own span."""
        df, spec = self.dfs[table], [self.specs[table]]
        if not tracer.enabled:
            return nl_filter(df, text, spec, NL_OPTIONS).limit(ROW_LIMIT).collect()
        with tracer.span("nlsql.parse"):
            conds = parse_conditions(text, spec, NL_OPTIONS)
        with tracer.span("nlsql.execute"):
            pred = conditions_to_predicate(conds)
            df = df.filter(pred) if pred is not None else df
            return df.limit(ROW_LIMIT).collect()

    def check(self, table: str, text: str, conds, rows) -> str:
        """'' when ``rows`` equal the pandas evaluation of the planted
        conditions (a ROW_LIMIT-row subset of them), else the problem."""
        key = gen.KEYS[table]
        want = self._expected.get(text)
        if want is None:
            want = set(gen.expected_keys(self.pdfs[table], key, conds))
            self._expected[text] = want
        got = [r.asDict() for r in rows]
        keys = [r[key] for r in got]
        if len(keys) != min(ROW_LIMIT, len(want)) or not set(keys) <= want:
            return f"{text!r}: {len(keys)} rows, expected {min(ROW_LIMIT, len(want))} of {len(want)}"
        ref = self.indexed[table]
        for r in got:
            exp = ref.loc[r[key]]
            for col, val in r.items():
                if exp[col] != val:
                    return f"{text!r}: row {r[key]} column {col} is {val!r}, expected {exp[col]!r}"
        return ""


class NLQuery(Workload):
    op_timeout_s = 20.0

    def __init__(self, spark, seed, size, nproc, workdir):
        super().__init__(spark, seed, size, nproc, workdir)
        self.cfg = SIZES[size]["nl"]
        self.tables = NLTables(spark, seed, self.cfg)
        self.queries = gen.nl_queries(seed, self.cfg["requests"])
        self.next = 0
        self.answered = 0

    def setup(self) -> None:
        self.tables.build(self.timings)
        gazetteer = {c["name"]: c for c in self.tables.specs["customer"]["columns"]}
        if len(gazetteer["c_name"].get("values", [])) != min(5000, self.cfg["customers"]):
            self.problems.append("inferred c_name gazetteer has the wrong size")

    def warmup(self) -> None:
        # one request of every kind: compiles each plan shape once
        for table, text, _conds in gen.warmup_queries(self.seed):
            self.tables.request(table, text, Tracer(False, ""))

    def op(self, tracer: Tracer) -> Tuple[int, int]:
        table, text, conds = self.queries[self.next % len(self.queries)]
        self.next += 1
        self.last = (table, text, conds, self.tables.request(table, text, tracer))
        return 1, len(self.last[3])

    def after_op(self) -> None:
        problem = self.tables.check(*self.last)
        if problem:
            self.problems.append(problem)
        self.answered += 1

    def check(self) -> Dict:
        return {"checked_requests": self.answered}

    def probe(self, tracer: Tracer, main_op_s: float) -> Dict[str, float]:
        served = self.queries[: max(self.next, 1)]
        texts = [text for _t, text, _c in served]
        specs = [self.tables.specs["customer"], self.tables.specs["orders"]]
        out = layers.kernel_replay(tracer, texts, specs, NL_OPTIONS)
        pdf = gen.pages_frame(texts, self.seed)
        pages = self.spark.createDataFrame(pdf, PAGES_SCHEMA).repartition(self.nproc)
        out.update(
            layers.extract_probe(
                tracer, pages, pages, len(texts), specs, NL_OPTIONS, self.nproc,
                out["kernel.pages_per_s_1proc"],
            )
        )
        out.update(
            layers.pipeline_probe(
                tracer, self.spark, pages, specs, NL_OPTIONS,
                os.path.join(self.workdir, "pipeline"), self.problems,
            )
        )
        out.update(nlsql_metrics(tracer, served, self.tables.specs, self.timings))
        return out


def nlsql_metrics(tracer: Tracer, served, specs, timings) -> Dict[str, float]:
    combos, recognize_ms = layers.nlsql_recognition(served, specs, NL_OPTIONS)
    return {
        "nlsql.parse_ms": 1000 * statistics.median(tracer.durations("nlsql.parse")),
        "nlsql.execute_ms": 1000 * statistics.median(tracer.durations("nlsql.execute")),
        "nlsql.combinations_per_query": combos,
        "kernel.recognize_warm_ms": recognize_ms,
        "dictionary.spec_infer_s": statistics.median(timings["dictionary.spec_infer_s"]),
    }


def nlsql_side_probe(spark, tracer: Tracer, seed: int, size: str, problems: List[str]) -> Dict[str, float]:
    """The nlsql layer on a workload that does not drive it: a few NL
    requests, traced and checked, against freshly generated tables."""
    cfg = SIZES[size]["nl_side"]
    tables = NLTables(spark, seed, cfg)
    timings: Dict[str, List[float]] = {}
    tables.build(timings)
    served = gen.nl_queries(seed, cfg["requests"])
    with tracer.span("nlsql.side_probe"):
        for table, text, conds in served:
            rows = tables.request(table, text, tracer)
            problem = tables.check(table, text, conds, rows)
            if problem:
                problems.append(problem)
    out = nlsql_metrics(tracer, served, tables.specs, timings)
    for df in tables.dfs.values():
        df.unpersist()
    return out


def make(name: str, spark, seed: int, size: str, nproc: int, workdir: str) -> Workload:
    if name == "crawl_boilerplate":
        return Crawl(spark, seed, size, nproc, workdir, gazetteer=False)
    if name == "crawl_gazetteer":
        return Crawl(spark, seed, size, nproc, workdir, gazetteer=True)
    if name == "nl_query":
        return NLQuery(spark, seed, size, nproc, workdir)
    raise KeyError(name)


WORKLOADS = ["crawl_boilerplate", "crawl_gazetteer", "nl_query"]
