"""``qa``: two closed-loop clients asking seeded NL questions.

The inputs are the relational tables the engine derives its property
graph from (orders → documents, customer → authors, part → keywords,
lineitem → HAS_KEYWORD edges, ...) plus a ``documents`` table for the
full-text fallback, all generated from the seed.  Each setup stages them
into a fresh directory, so the graph store is always built cold; the
stores are removed again at teardown.

Every question names the template it targets.  A response planned to
another template is a failed operation, as is a wrong answer: answers
are checked against DuckDB over the same parquet files, through the
engine's ANSI-SQL mirror of the graph (``GRAPH_ORACLE_CTES``).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..harness import Op, Workload, run_op
from ..spans import Tracer, per_call
from .common import pseudo_words, zipf_choice

N_ORDERS = 8_000  # documents
N_CUSTOMERS = 800  # authors
N_PARTS = 1_500  # keywords
N_SUPPLIERS = 50  # organizations
N_TEXTS = 1_000  # full-text documents
CLIENTS = 2
RESULT_LIMIT, FALLBACK_LIMIT = 10, 100

# One pass asks one question of each kind, so every pass does the same
# mix of work: 4-hop, 2-hop and 1-hop templates and 10% each of full-text
# search, follow-ups and graph-off requests.  The slowest kinds come
# first, so the two clients finish a pass at about the same time.
KINDS = (
    "related_authors_via_keywords",
    "coauthor_doc_topics",
    "coauthors_of",
    "keywords_of_doc",
    "cooccurring_keywords",
    "follow_up",
    "fulltext",
    "authors_of_doc",
    "docs_by_author",
    "graph_off",
)
BATCH = len(KINDS)  # questions per pass, shared by the two clients
# A question's latency keeps falling for about three passes after each
# plan first runs (JIT compilation).  Setup runs one pass; the window runs
# at least three more, and their median is the warm one.
WARM_PASSES = 1
STREAM = 100 * BATCH  # seeded questions; a run cycles through them
_H = "nl.api.handle_request"
LAYER_METRICS = {
    f"{_H}.jobs": ("count", "lower"),
    f"{_H}.tasks": ("count", "lower"),
    f"{_H}.shuffle_write_bytes": ("bytes", "lower"),
    f"{_H}.executor_run_s": ("s", "lower"),
    f"{_H}.driver_wait_s": ("s", "lower"),
    f"{_H}.self_ms": ("ms", "lower"),
    "nl.engine.answer.first_stage_hit_ratio": ("ratio", "higher"),
    "nl.engine.answer.stages_tried": ("count", "lower"),
    "nl.engine.answer.self_ms": ("ms", "lower"),
    "nl.planner.plan.ms": ("ms", "lower"),
    "nl.engine.execute_plan.ms": ("ms", "lower"),
    "nl.formatter.format_rows.ms": ("ms", "lower"),
}
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_tables(seed: int, out: str) -> dict:
    """Write the source tables under ``out``; returns the entity names
    questions are drawn from."""
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    words = pseudo_words(rng, 2 * N_CUSTOMERS + N_PARTS + N_SUPPLIERS + 600)
    cust_names = [
        f"{a.capitalize()} {b.capitalize()}"
        for a, b in zip(words[:N_CUSTOMERS], words[N_CUSTOMERS : 2 * N_CUSTOMERS])
    ]
    rest = words[2 * N_CUSTOMERS :]
    kw_names = rest[:N_PARTS]
    # ~5% of keywords repeat an earlier surface (alias rows in the graph)
    dup = rng.choice(N_PARTS, size=N_PARTS // 20, replace=False)
    for i in dup:
        kw_names[i] = kw_names[int(rng.integers(N_PARTS))]
    org_names = [f"Lab {w.capitalize()}" for w in rest[N_PARTS : N_PARTS + N_SUPPLIERS]]
    text_vocab = rest[N_PARTS + N_SUPPLIERS :]

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(1, N_CUSTOMERS + 1), pa.int64()),
        "c_name": cust_names,
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": rng.uniform(-999, 9999, N_CUSTOMERS).round(2),
        "c_mktsegment": rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"], N_CUSTOMERS),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(1, N_PARTS + 1), pa.int64()),
        "p_name": kw_names,
        "p_brand": [f"Brand#{i % 50}" for i in range(N_PARTS)],
        "p_type": ["STANDARD"] * N_PARTS,
        "p_size": pa.array(rng.integers(1, 50, N_PARTS), pa.int32()),
        "p_retailprice": rng.uniform(900, 2000, N_PARTS).round(2),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(1, N_SUPPLIERS + 1), pa.int64()),
        "s_name": org_names,
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": rng.uniform(-999, 9999, N_SUPPLIERS).round(2),
    })
    start = dt.datetime(1992, 1, 1)
    dates = [start + dt.timedelta(days=int(d)) for d in rng.integers(0, 2400, N_ORDERS)]
    write("orders", {
        "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1), pa.int64()),
        # Zipf authorship: a few prolific authors, a long tail
        "o_custkey": pa.array(zipf_choice(rng, N_CUSTOMERS, N_ORDERS, 0.9) + 1, pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": rng.uniform(1000, 400000, N_ORDERS).round(2),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    n_lines = rng.integers(1, 8, N_ORDERS)
    total = int(n_lines.sum())
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(1, N_ORDERS + 1), n_lines), pa.int64()),
        "l_partkey": pa.array(zipf_choice(rng, N_PARTS, total, 0.8) + 1, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, total), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in n_lines]), pa.int32()),
        "l_quantity": rng.integers(1, 50, total).astype(float),
        "l_extendedprice": rng.uniform(900, 90000, total).round(2),
        "l_discount": rng.integers(0, 11, total) / 100.0,
        "l_tax": rng.integers(0, 9, total) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], total),
        "l_linestatus": rng.choice(["F", "O"], total),
        "l_shipdate": pa.array([start] * total, pa.timestamp("us")),
    })
    # full-text corpus: vocabulary words plus mentions of titles, authors
    # and keywords, so graph-off and fallback searches both hit and miss
    texts = []
    for _ in range(N_TEXTS):
        toks = list(rng.choice(text_vocab, int(rng.integers(15, 35))))
        for _m in range(int(rng.integers(0, 3))):
            pick = int(rng.integers(3))
            if pick == 0:
                toks.append(f"DOC-{int(rng.integers(1, N_ORDERS + 1))}")
            elif pick == 1:
                toks.append(cust_names[int(rng.integers(N_CUSTOMERS))])
            else:
                toks.append(kw_names[int(rng.integers(N_PARTS))])
        rng.shuffle(toks)
        texts.append(" ".join(toks))
    write("documents", {
        "doc_id": pa.array(np.arange(1, N_TEXTS + 1), pa.int64()),
        "text": texts,
        "lang": ["en"] * N_TEXTS,
        "source": [f"src{i % 7}" for i in range(N_TEXTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"authors": cust_names, "keywords": sorted(set(kw_names)), "vocab": text_vocab}


def question_stream(seed: int, names: dict, n: int) -> list[dict]:
    """``n`` seeded questions, ``BATCH`` at a time with one of each kind;
    each carries the template it must plan to and the quoted entity it
    names."""
    rng = np.random.default_rng([seed, 1])
    drawn = [i % BATCH for i in range(n)]
    doc_ix = zipf_choice(rng, N_ORDERS, n) + 1
    author_ix = zipf_choice(rng, N_CUSTOMERS, n)
    kw_ix = zipf_choice(rng, len(names["keywords"]), n)
    vocab = names["vocab"]
    out = []
    for i, k in enumerate(drawn):
        kind = KINDS[k]
        title = f"DOC-{doc_ix[i]}"
        author = names["authors"][author_ix[i]]
        history, graph = [], True
        if kind == "authors_of_doc":
            q, template, entity = f'Who wrote "{title}"?', kind, title
        elif kind == "keywords_of_doc":
            q, template, entity = f'What are the keywords of "{title}"?', kind, title
        elif kind == "docs_by_author":
            q, template, entity = f'List the papers written by "{author}".', kind, author
        elif kind == "coauthors_of":
            q, template, entity = f'Who are the co-authors of "{author}"?', kind, author
        elif kind == "cooccurring_keywords":
            entity = names["keywords"][kw_ix[i]]
            q, template = f'Which keywords co-occur with "{entity}"?', kind
        elif kind == "related_authors_via_keywords":
            q, template, entity = f'Which authors have the same keywords as "{author}"?', kind, author
        elif kind == "coauthor_doc_topics":
            q, template, entity = (
                f'Which fields do the co-authors of "{author}" publish in?', kind, author)
        elif kind == "fulltext":
            # two vocabulary words: sometimes adjacent in a text, mostly not,
            # so the AND -> OR fallback cascade runs
            entity = f"{vocab[int(rng.integers(len(vocab)))]} {vocab[int(rng.integers(len(vocab)))]}"
            q, template = f'Find "{entity}"', "fulltext"
        elif kind == "graph_off":
            q, template, entity, graph = f'Who wrote "{title}"?', "fulltext", title, False
        else:  # follow_up: the entity comes from the conversation
            entity = title
            if (i // BATCH) % 2:  # alternate between passes
                history = [f'Who wrote "{title}"?']
                q, template = "And the keywords of it?", "keywords_of_doc"
            else:
                history = [f'What are the keywords of "{title}"?']
                q, template = "And who wrote it?", "authors_of_doc"
        payload = {
            "query": q,
            "history": [{"role": "user", "content": h} for h in history],
            "neo4j_enabled": graph,
            "session_id": f"s{i}",
        }
        out.append({"kind": kind, "template": template, "entity": entity, "payload": payload})
    return out


class Oracle:
    """The expected response to a question, from DuckDB over the parquet
    files.  Template rows are the full result (before ``LIMIT 10``)."""

    TEMPLATE_SQL = {
        "authors_of_doc": """SELECT a.name FROM docs d JOIN e_authored e ON d.doc_id = e.dst
            JOIN authors a ON e.src = a.author_id WHERE d.title = $1""",
        "keywords_of_doc": """SELECT k.name FROM docs d JOIN e_has_keyword e ON d.doc_id = e.src
            JOIN keywords k ON e.dst = k.keyword_id WHERE d.title = $1""",
        "docs_by_author": """SELECT d.title, d.year, d.label FROM authors a
            JOIN e_authored e ON a.author_id = e.src JOIN docs d ON e.dst = d.doc_id
            WHERE a.name = $1""",
        "coauthors_of": """SELECT DISTINCT c.name FROM authors a
            JOIN e_authored e1 ON a.author_id = e1.src
            JOIN e_authored e2 ON e1.dst = e2.dst AND e2.src <> a.author_id
            JOIN authors c ON e2.src = c.author_id WHERE a.name = $1""",
        "cooccurring_keywords": """SELECT k2.name, count(*) FROM keywords k
            JOIN e_has_keyword e1 ON k.keyword_id = e1.dst
            JOIN e_has_keyword e2 ON e1.src = e2.src AND e2.dst <> k.keyword_id
            JOIN keywords k2 ON e2.dst = k2.keyword_id WHERE k.name = $1 GROUP BY k2.name""",
        "related_authors_via_keywords": """
            WITH a AS (SELECT author_id FROM authors WHERE name = $1),
            my_docs AS (SELECT dst AS doc_id FROM e_authored WHERE src IN (SELECT author_id FROM a)),
            my_kws AS (SELECT DISTINCT dst AS kw FROM e_has_keyword
                       WHERE src IN (SELECT doc_id FROM my_docs)),
            other AS (SELECT src AS doc_id, dst AS kw FROM e_has_keyword
                      WHERE dst IN (SELECT kw FROM my_kws))
            SELECT au.name, count(DISTINCT o.kw) AS n FROM other o
            JOIN e_authored ea ON ea.dst = o.doc_id JOIN authors au ON au.author_id = ea.src
            WHERE au.name <> $1 GROUP BY au.name ORDER BY n DESC, au.name LIMIT 10""",
        "coauthor_doc_topics": """
            WITH a AS (SELECT author_id FROM authors WHERE name = $1),
            my_docs AS (SELECT dst AS doc_id FROM e_authored WHERE src IN (SELECT author_id FROM a)),
            co AS (SELECT DISTINCT src AS co_id FROM e_authored
                   WHERE dst IN (SELECT doc_id FROM my_docs)
                   AND src NOT IN (SELECT author_id FROM a))
            SELECT DISTINCT c.name, t.name, d.title FROM co
            JOIN e_authored ea ON ea.src = co.co_id JOIN e_has_topic et ON et.src = ea.dst
            JOIN topics t ON t.topic_id = et.dst JOIN docs d ON d.doc_id = ea.dst
            JOIN authors c ON c.author_id = co.co_id ORDER BY 1, 2, 3 LIMIT 10""",
    }
    ORDERED = {"related_authors_via_keywords", "coauthor_doc_topics"}

    def __init__(self, sf_dir: str):
        import duckdb

        from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import (
            GRAPH_ORACLE_CTES,
        )

        self.con = duckdb.connect()
        for t in ("orders", "customer", "part", "supplier", "nation", "region", "lineitem", "documents"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for t in ("docs", "authors", "keywords", "topics", "e_authored", "e_has_keyword", "e_has_topic"):
            self.con.execute(f"CREATE TABLE {t} AS {GRAPH_ORACLE_CTES} SELECT * FROM {t}")
        self.con.execute("CREATE TABLE texts AS SELECT doc_id, lower(text) AS low, text FROM documents")

    def rows(self, sql: str, params: list) -> list[tuple]:
        return [tuple(str(v) for v in r) for r in self.con.execute(sql, params).fetchall()]

    def fulltext(self, terms: list[str], require_all: bool) -> list[tuple]:
        if not terms:
            return []
        op = " AND " if require_all else " OR "
        cond = op.join(f"contains(low, ${i + 1})" for i in range(len(terms)))
        return self.rows(
            f"SELECT doc_id, substring(text, 1, 120) FROM texts WHERE {cond} "
            f"ORDER BY doc_id LIMIT {FALLBACK_LIMIT}",
            [t.lower() for t in terms],
        )

    def expect(self, q: dict) -> tuple[str, list[tuple], bool]:
        """(stage, rows, rows_are_exact) the engine must answer with."""
        tokens = q["entity"].split()
        if not q["payload"]["neo4j_enabled"]:
            return "fulltext_only", self.fulltext(tokens, True), True
        t = q["template"]
        if t == "fulltext":
            stages = [("template", self.fulltext([q["entity"]], True), True)]
        else:
            stages = [("template", self.rows(self.TEMPLATE_SQL[t], [q["entity"]]), t in self.ORDERED)]
        if not (t == "fulltext" and tokens == [q["entity"]]):
            stages.append(("fallback_and", self.fulltext(tokens, True), True))
        stages.append(("fallback_or", self.fulltext(tokens, False), True))
        for stage, rows, exact in stages:
            if rows:
                return stage, rows, exact
        return "empty", [], True


def parse_rows(answer: str) -> list[tuple]:
    """Rows back out of the engine's numbered ``key: value`` answer text."""
    if not answer.startswith("Found "):
        return []
    out = []
    for line in answer.split("\n")[1:]:
        body = line.split(". ", 1)[1]
        out.append(tuple(kv.split(": ", 1)[1] for kv in body.split(", ")))
    return out


def check(oracle: Oracle, q: dict, resp: dict) -> str | None:
    """None when ``resp`` is right, else what is wrong with it."""
    if resp.get("template") != q["template"]:
        return f"misrouted: planned {resp.get('template')!r}, wanted {q['template']!r}"
    stage, want, exact = oracle.expect(q)
    got = parse_rows(resp["answer"])
    if resp["stage"] != stage:
        return f"stage {resp['stage']!r}, wanted {stage!r}"
    if resp["n_rows"] != len(got):
        return f"n_rows {resp['n_rows']} but {len(got)} rows in the answer"
    if exact or stage != "template":
        return None if got == want else f"rows differ: {got[:3]} vs {want[:3]}"
    # unordered template under LIMIT 10: any sub-multiset of the full result
    # with the right size
    if len(got) != min(RESULT_LIMIT, len(want)):
        return f"{len(got)} rows, wanted {min(RESULT_LIMIT, len(want))}"
    pool = list(want)
    for r in got:
        if r not in pool:
            return f"row {r} not in the reference result"
        pool.remove(r)
    return None


class QA(Workload):
    setup_reps = 1  # the cold store build is what setup measures; a second one would be warm
    min_passes = 3

    def __init__(self, spark, seed: int, work: str, watchdog):
        from advanced_technologies_of_china_graph_database_construction_spark.operators import graph

        super().__init__(spark, seed, work, watchdog)
        self.store_root = graph._STORE_ROOT
        self.stores_before = set(os.listdir(self.store_root)) if os.path.isdir(self.store_root) else set()
        self.next_q = 0
        self.pool = ThreadPoolExecutor(CLIENTS)
        self._cursor_lock = threading.Lock()

    def setup(self) -> None:
        """Stage fresh inputs, build the graph store cold, then warm up
        with ``WARM_PASSES`` passes of other questions."""
        from advanced_technologies_of_china_graph_database_construction_spark.operators.graph import build_graph

        sf = os.path.join(self.work, f"qa-sf-{self.n_setups}")
        self.n_setups += 1
        names = write_tables(self.seed, sf)
        build_graph(self.spark, sf)
        self.sf, self.next_q = sf, 0
        self.questions = question_stream(self.seed + 7919, names, STREAM)
        for _ in range(WARM_PASSES):
            self.run_pass(Tracer(self.spark, False))
        self.next_q, self.questions = 0, question_stream(self.seed, names, STREAM)

    def _client(self, tracer, handle_request) -> list[Op]:
        ops = []
        while True:
            with self._cursor_lock:
                if self._left == 0:
                    return ops
                self._left -= 1
                q = self.questions[self.next_q % STREAM]
                self.next_q += 1
            ops.append(run_op(
                "nl.api.handle_request", tracer, self.watchdog,
                lambda: handle_request(self.spark, self.sf, q["payload"]), expect=q,
            ))

    def run_pass(self, tracer) -> list[Op]:
        from advanced_technologies_of_china_graph_database_construction_spark.nl.api import handle_request

        self._left = BATCH
        futures = [self.pool.submit(self._client, tracer, handle_request) for _ in range(CLIENTS)]
        return [op for f in futures for op in f.result()]

    def verify(self, ops: list[Op]) -> list[str]:
        oracle = Oracle(self.sf)
        bad = []
        for op in ops:
            if op.error is None:
                msg = check(oracle, op.expect, op.result)
                if msg:
                    op.error = msg
                    bad.append(f"{op.expect['payload']['query']}: {msg}")
        return bad

    @contextlib.contextmanager
    def traced(self, tracer):
        """Spans around the calls ``handle_request`` makes into the
        planner, the engine and the formatter, plus a count of the
        result collects each answer cascade issues."""
        from advanced_technologies_of_china_graph_database_construction_spark.nl import (
            api, engine, formatter, planner,
        )
        from pyspark.sql.classic.dataframe import DataFrame

        def wrap(name, fn, after=None):
            def inner(*a, **kw):
                with tracer.span(name) as sp:
                    out = fn(*a, **kw)
                    if after:
                        after(sp, out)
                    return out
            return inner

        def note_stage(sp, out):
            sp.attrs["stage"] = out["stage"]

        orig_collect = DataFrame.collect

        def counting_collect(df):
            sp = tracer.current("nl.engine.answer")
            if sp is not None:
                sp.attrs["collects"] = sp.attrs.get("collects", 0) + 1
            return orig_collect(df)

        patches = [
            (api, "answer", wrap("nl.engine.answer", api.answer, note_stage)),
            (api, "plan", wrap("nl.planner.plan", planner.plan)),
            (engine, "plan", wrap("nl.planner.plan", planner.plan)),
            (api, "fulltext_search", wrap("nl.engine.fulltext_search", api.fulltext_search)),
            (engine, "execute_plan", wrap("nl.engine.execute_plan", engine.execute_plan)),
            (engine, "format_rows", wrap("nl.formatter.format_rows", formatter.format_rows)),
            (formatter, "format_rows", wrap("nl.formatter.format_rows", formatter.format_rows)),
            (DataFrame, "collect", counting_collect),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        for obj, attr, fn in patches:
            setattr(obj, attr, fn)
        try:
            yield
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    def layer_metrics(self, tracer, ops: list[Op]) -> dict:
        m = per_call(tracer, "nl.api.handle_request", ("jobs", "tasks", "shuffle_write_bytes",
                                                "executor_run_s", "driver_wait_s"))
        answers = tracer.spans("nl.engine.answer")
        if answers:
            m["nl.engine.answer.first_stage_hit_ratio"] = (
                sum(a.attrs.get("stage") == "template" for a in answers) / len(answers))
            m["nl.engine.answer.stages_tried"] = (
                sum(a.attrs.get("collects", 0) for a in answers) / len(answers))
        for name in ("nl.planner.plan", "nl.engine.execute_plan", "nl.formatter.format_rows"):
            m.update(per_call(tracer, name, ("ms",)))
        m.update(per_call(tracer, "nl.api.handle_request", ("self_ms",)))
        m.update(per_call(tracer, "nl.engine.answer", ("self_ms",)))
        return m

    def teardown(self) -> None:
        self.pool.shutdown(wait=True)
        if os.path.isdir(self.store_root):
            for d in set(os.listdir(self.store_root)) - self.stores_before:
                if d.startswith("qa-sf-"):
                    shutil.rmtree(os.path.join(self.store_root, d), ignore_errors=True)
