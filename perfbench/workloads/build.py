"""The build half of the ``batch`` workload: the write path over a
generated EndNote-style TXT corpus, then a small delta batch folded in
incrementally.

Full build: ``ingest_txt`` (materialized once; three consumers read it)
→ ``minhash_near_dups`` on abstracts blocked by domain →
``build_er_state`` over the keyword vocabulary → canonical election,
``apply_mapping_array``, (title, keyword) edge extraction and a parquet
write.  Refresh: ``ingest_txt`` of the delta → ``incremental_er_refresh``
→ ``minhash_delta_near_dups`` → append.

The generator knows the answer in closed form: which records the
keep-first title dedup keeps, which surfaces are typos of which
canonical keyword, and which abstract pairs it made near-duplicates.
MinHash is approximate, so its pairs must contain the designed pairs,
and any other pair must be similar by exact 3-gram Jaccard.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from ..harness import Op, Workload, run_op
from ..spans import per_call, phase_s
from .common import random_letters, zipf_choice

N_RECORDS = 1_000
PER_FILE = 500
N_DOMAINS = 10
N_DELTA = 20  # 2% of the corpus
N_CANON = 400  # canonical keywords
TITLE_COLLIDE, TYPO, NEAR_DUP = 0.05, 0.10, 0.02
JACCARD_MIN = 0.2  # least similarity of a reported near-duplicate pair

BUILD_OPS = (
    "txt_records.ingest_txt",
    "dedup.minhash_near_dups",
    "er.build_er_state",
    "build.sink_write",
)
REFRESH_OPS = ("er.incremental_er_refresh", "dedup.minhash_delta_near_dups")
SUFFIXES = ("wall_s", "jobs", "shuffle_write_bytes", "executor_run_s")
UNITS = {"wall_s": "s", "jobs": "count", "shuffle_write_bytes": "bytes", "executor_run_s": "s"}
LAYER_METRICS = {f"{op}.{s}": (UNITS[s], "lower") for op in BUILD_OPS + REFRESH_OPS for s in SUFFIXES}
LAYER_METRICS.update({
    "build.full_build_s": ("s", "lower"),
    "build.refresh_s": ("s", "lower"),
    "build.dedup_drop_ratio": ("ratio", "higher"),
    "build.store_bytes_per_input_byte": ("ratio", "lower"),
})


def _within_one(a: str, b: str) -> bool:
    """Levenshtein(a, b) <= 1."""
    if abs(len(a) - len(b)) > 1:
        return False
    if len(a) == len(b):
        return sum(x != y for x, y in zip(a, b)) <= 1
    if len(a) > len(b):
        a, b = b, a
    return any(b[:i] + b[i + 1 :] == a for i in range(len(b)))


def _check_clusters(cluster_of: dict) -> None:
    """Raise unless surfaces within edit distance 1 are exactly the pairs
    inside one designed cluster (deletion-neighbourhood blocking)."""
    index: dict = {}
    for w in cluster_of:
        for v in {w} | {w[:i] + w[i + 1 :] for i in range(len(w))}:
            index.setdefault(v, []).append(w)
    for group in index.values():
        for i, a in enumerate(group):
            for b in group[i + 1 :]:
                if cluster_of[a] != cluster_of[b] and _within_one(a, b):
                    raise ValueError(f"unplanned alias {a} ~ {b}")


def _shingles(text: str) -> set:
    return {text[i : i + 3] for i in range(len(text) - 2)}


def check_pairs(got: set, designed: set, docs: dict, touching: set | None = None) -> str | None:
    """None when the MinHash pairs ``got`` are right, else what is wrong.

    Every pair the generator made near-duplicate must be found.  MinHash
    is approximate, so other pairs may come back too, but only pairs in
    one domain whose character 3-gram Jaccard similarity is at least
    ``JACCARD_MIN``: 16 min-hashes agree in 8 places at a similarity of
    0.2 with probability below 1%, and unrelated generated abstracts are
    near 0.02.  The check uses no hash function of the operator's.
    With ``touching``, every pair must have a title in it (delta pairs)."""
    missed = designed - got
    if missed:
        return f"{len(missed)} designed near-duplicate pairs missed, e.g. {sorted(next(iter(missed)))}"
    for pair in got - designed:
        a, b = sorted(pair)
        if touching is not None and not pair & touching:
            return f"pair {a} ~ {b} has no title of the delta"
        (da, ta), (db, tb) = docs[a], docs[b]
        sa, sb = _shingles(ta), _shingles(tb)
        if da != db or len(sa & sb) < JACCARD_MIN * len(sa | sb):
            return f"pair {a} ~ {b} is not a near-duplicate"
    return None


class Corpus:
    """A seeded corpus written as TXT files, with its closed-form truth."""

    def __init__(self, seed: int, root: str, n_records: int = N_RECORDS, n_delta: int = N_DELTA):
        self.n_records, self.n_delta = n_records, n_delta
        for attempt in range(20):
            try:
                self._generate(np.random.default_rng([seed, 3, attempt]), root)
                return
            except ValueError:
                shutil.rmtree(root, ignore_errors=True)
        raise RuntimeError("could not generate an unambiguous keyword vocabulary")

    def _typo(self, rng, word: str) -> str:
        while True:
            i = int(rng.integers(len(word)))
            c = chr(97 + int(rng.integers(26)))
            t = word[:i] + c + word[i + 1 :]
            if t != word and t not in self.cluster_of:
                self.cluster_of[t] = word
                return t

    def _records(self, rng, n: int, titles_from: int, canon: list[str]) -> list[dict]:
        n_kw = rng.integers(3, 7, n)
        kw_ix = zipf_choice(rng, len(canon), int(n_kw.sum()), 0.8)
        n_words = rng.integers(40, 60, n)
        lens = rng.integers(3, 9, int(n_words.sum()))
        letters = random_letters(rng, int(lens.sum()))
        ends = np.cumsum(lens)
        words = [letters[e - k : e] for e, k in zip(ends.tolist(), lens.tolist())]
        kw_end, w_end = np.cumsum(n_kw).tolist(), np.cumsum(n_words).tolist()
        years = (1990 + rng.integers(0, 30, n)).tolist()
        recs = []
        for i in range(n):
            kws = kw_ix[kw_end[i] - n_kw[i] : kw_end[i]]
            recs.append({
                "title": f"Record {titles_from + i:06d}",
                "keywords": list(dict.fromkeys(canon[j] for j in kws)),
                "abstract": " ".join(words[w_end[i] - n_words[i] : w_end[i]]),
                "year": years[i],
            })
        return recs

    def _near_dup(self, rng, abstract: str) -> str:
        words = abstract.split()
        words[int(rng.integers(len(words)))] = random_letters(rng, 6)
        return " ".join(words)

    def _typos(self, rng, recs: list[dict], counts: dict) -> None:
        """Replace ~TYPO of keyword occurrences by a fresh distance-1 typo,
        only where the canonical stays the most frequent surface."""
        for r in recs:
            for j, k in enumerate(r["keywords"]):
                if rng.random() < TYPO and counts[k] >= 4:
                    counts[k] -= 1
                    r["keywords"][j] = self._typo(rng, k)

    def _generate(self, rng, root: str) -> None:
        canon = [random_letters(rng, 10) for _ in range(N_CANON)]
        self.cluster_of = {w: w for w in canon}
        n = self.n_records
        recs = self._records(rng, n, 0, canon)
        per_domain = n // N_DOMAINS
        for i, r in enumerate(recs):
            r["domain"] = i // per_domain
        # ~5% of records repeat an earlier title: keep-first drops them
        for i in rng.choice(np.arange(1, n), int(n * TITLE_COLLIDE), replace=False):
            recs[i]["title"] = recs[int(rng.integers(i))]["title"]
        seen = set()
        kept = []
        for i, r in enumerate(recs):
            if r["title"] not in seen:
                seen.add(r["title"])
                kept.append(i)
        self.kept_titles = {recs[i]["title"] for i in kept}
        # ~2% near-duplicate abstracts, pairs inside one domain
        self.pairs = set()
        kept_by_domain: dict = {}
        for i in kept:
            kept_by_domain.setdefault(recs[i]["domain"], []).append(i)
        used = set()
        for _ in range(int(n * NEAR_DUP)):
            d = kept_by_domain[int(rng.integers(N_DOMAINS))]
            a, b = (int(x) for x in rng.choice(d, 2, replace=False))
            if a in used or b in used:
                continue
            used.update((a, b))
            recs[b]["abstract"] = self._near_dup(rng, recs[a]["abstract"])
            self.pairs.add(frozenset((recs[a]["title"], recs[b]["title"])))
        counts: dict = {}
        for i in kept:
            for k in recs[i]["keywords"]:
                counts[k] = counts.get(k, 0) + 1
        self._typos(rng, [recs[i] for i in kept], counts)
        self.build_clusters = self._clusters(recs[i] for i in kept)
        self.build_edges = {(recs[i]["title"], self.cluster_of[k]) for i in kept for k in recs[i]["keywords"]}
        # delta: fresh titles, a few new canonicals, typos, near-dups of
        # standing abstracts
        new_canon = [random_letters(rng, 10) for _ in range(5)]
        for w in new_canon:
            self.cluster_of[w] = w
        delta = self._records(rng, self.n_delta, n, canon + new_canon)
        for r in delta:
            r["domain"] = int(rng.integers(N_DOMAINS))
            for k in r["keywords"]:
                counts[k] = counts.get(k, 0) + 1
        self._typos(rng, delta, counts)
        self.delta_pairs = set()
        for r in delta[: max(1, self.n_delta // 10)]:
            free = [i for i in kept_by_domain[r["domain"]] if i not in used]
            j = int(rng.choice(free))
            used.add(j)
            src = recs[j]
            r["abstract"] = self._near_dup(rng, src["abstract"])
            self.delta_pairs.add(frozenset((src["title"], r["title"])))
        _check_clusters(self.cluster_of)
        self.kept_docs = [(recs[i]["title"], recs[i]["domain"], recs[i]["abstract"]) for i in kept]
        self.delta_docs = [(r["title"], r["domain"], r["abstract"]) for r in delta]
        self.refresh_clusters = self._clusters([recs[i] for i in kept] + delta)
        self.delta_edges = {(r["title"], self.cluster_of[k]) for r in delta for k in r["keywords"]}
        self.full_dir = os.path.join(root, "full")
        self.delta_dir = os.path.join(root, "delta")
        self.input_bytes = self._write(recs, self.full_dir, 0)
        self._write(delta, self.delta_dir, 9000)

    def _clusters(self, recs) -> set:
        out: dict = {}
        for r in recs:
            for k in r["keywords"]:
                out.setdefault(self.cluster_of[k], set()).add(k)
        return {frozenset(v) for v in out.values()}

    @staticmethod
    def _write(recs: list[dict], root: str, first_file: int) -> int:
        """EndNote-style ``{Field}: value`` blocks, PER_FILE per file, one
        folder per domain; returns the bytes written."""
        by_domain: dict = {}
        for r in recs:
            by_domain.setdefault(r["domain"], []).append(r)
        total = 0
        for d, rs in by_domain.items():
            folder = os.path.join(root, f"dom{d:02d}", "papers")
            os.makedirs(folder, exist_ok=True)
            for f in range(0, len(rs), PER_FILE):
                blocks = [
                    "\n".join((
                        f"{{Reference Type}}: Journal Article",
                        f"{{Title}}: {r['title']}",
                        f"{{Author}}: Author {r['title'][-3:]};",
                        f"{{Year}}: {r['year']}",
                        f"{{Keywords}}: {';'.join(r['keywords'])}",
                        f"{{Abstract}}: {r['abstract']}",
                    ))
                    for r in rs[f : f + PER_FILE]
                ]
                text = "\n\n".join(blocks) + "\n"
                with open(os.path.join(folder, f"f{first_file + f // PER_FILE:04d}.txt"), "w") as fh:
                    fh.write(text)
                total += len(text.encode())
        return total


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Build(Workload):
    def setup(self) -> None:
        """Generate the corpus into a fresh directory.  No warm-up: a batch
        build starts a fresh JVM, so it pays the cold JIT and
        code-generation cost on every run, and the window measures it."""
        self.corpus = Corpus(self.seed, os.path.join(self.work, f"txt-{self.n_setups}"))
        self.store = os.path.join(self.work, f"store-{self.n_setups}")
        self.n_setups += 1

    def _docs(self, rec):
        from pyspark.sql import functions as F

        return rec.select(
            F.xxhash64("title").alias("doc_id"),
            F.col("abstract").alias("text"),
            F.regexp_extract("file", r"/dom(\d+)/", 1).alias("source"),
        )

    @staticmethod
    def _mapping(state, counts):
        """surface -> canonical: the most frequent surface of each ER
        component (ties: the smallest)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("component").orderBy(F.desc("n"), F.asc("name"))
        canon = (
            state.join(counts, "name")
            .withColumn("rk", F.row_number().over(w))
            .filter("rk = 1")
            .select("component", F.col("name").alias("canonical"))
        )
        return state.join(canon, "component").select(F.col("name").alias("id"), "canonical")

    def _write_edges(self, rec, mapping, mode: str) -> None:
        from pyspark.sql import functions as F

        from advanced_technologies_of_china_graph_database_construction_spark.operators.er import (
            apply_mapping_array,
        )

        mapped = apply_mapping_array(rec, mapping, "keywords", id_cols=("title",))
        edges = mapped.select("title", F.explode("keywords").alias("keyword")).distinct()
        edges.write.mode(mode).parquet(self.store)

    def run_pass(self, tracer) -> list[Op]:
        from pyspark.sql import functions as F

        from advanced_technologies_of_china_graph_database_construction_spark.operators import dedup, er
        from advanced_technologies_of_china_graph_database_construction_spark.sources.txt_records import (
            ingest_txt,
        )

        c, spark, ops = self.corpus, self.spark, []
        st: dict = {}

        def op(name, fn, expect=None):
            o = run_op(name, tracer, self.watchdog, fn, expect)
            ops.append(o)
            if o.error is not None:
                raise RuntimeError(o.error)
            return o.result

        def kw_counts(rec):
            return rec.select(F.explode("keywords").alias("name")).groupBy("name").agg(F.count("*").alias("n"))

        try:
            rec = op(BUILD_OPS[0], lambda: ingest_txt(spark, c.full_dir).localCheckpoint(eager=True))
            docs = self._docs(rec)
            op(BUILD_OPS[1], lambda: dedup.minhash_near_dups(docs, block_col="source").collect(), expect=rec)

            def er_state():
                st["state"] = er.build_er_state(rec.select(F.explode("keywords").alias("name"))).localCheckpoint(eager=True)
                return st["state"].collect()

            op(BUILD_OPS[2], er_state, expect="build")
            op(BUILD_OPS[3], lambda: self._write_edges(rec, self._mapping(st["state"], kw_counts(rec)), "overwrite"))
            drec = op("refresh.ingest_txt", lambda: ingest_txt(spark, c.delta_dir).localCheckpoint(eager=True))

            def refresh():
                names = drec.select(F.explode("keywords").alias("name"))
                st["state2"] = er.incremental_er_refresh(st["state"], names).localCheckpoint(eager=True)
                return st["state2"].collect()

            op(REFRESH_OPS[0], refresh, expect="refresh")
            op(REFRESH_OPS[1], lambda: dedup.minhash_delta_near_dups(
                docs, self._docs(drec), block_col="source").collect(), expect=(rec, drec))
            counts = kw_counts(rec.select("keywords").unionByName(drec.select("keywords")))
            op("refresh.sink_append", lambda: self._write_edges(drec, self._mapping(st["state2"], counts), "append"))
        except RuntimeError:
            pass  # a failed step ends the pass; its op carries the error
        return ops

    def verify(self, ops: list[Op]) -> list[str]:
        import pyarrow.parquet as pq

        c, bad = self.corpus, []
        docs = {t: (d, text) for t, d, text in c.kept_docs + c.delta_docs}
        delta_titles = {t for t, _, _ in c.delta_docs}
        for op in ops:
            if op.error is not None:
                continue
            msg = None
            if op.name in (BUILD_OPS[0], "refresh.ingest_txt"):
                got = {r.title for r in op.result.select("title").collect()}
                full = op.name == BUILD_OPS[0]
                ok = got == (c.kept_titles if full else delta_titles)
            elif op.name in (BUILD_OPS[1], REFRESH_OPS[1]):
                frames = op.expect if isinstance(op.expect, tuple) else (op.expect,)
                ids = {r.doc_id: r.title for f in frames for r in
                       f.selectExpr("xxhash64(title) AS doc_id", "title").collect()}
                got = {frozenset((ids[r.src], ids[r.dst])) for r in op.result}
                if op.name == BUILD_OPS[1]:
                    msg = check_pairs(got, c.pairs, docs)
                else:
                    msg = check_pairs(got, c.delta_pairs, docs, delta_titles)
                ok = msg is None
            elif op.name in (BUILD_OPS[2], REFRESH_OPS[0]):
                comps: dict = {}
                for r in op.result:
                    comps.setdefault(r.component, set()).add(r.name)
                got = {frozenset(v) for v in comps.values()}
                ok = got == (c.build_clusters if op.expect == "build" else c.refresh_clusters)
            else:
                continue
            if not ok:
                op.error = msg or "result differs from the generator's truth"
                bad.append(f"{op.name}: {op.error}")
        # the store holds what the last pass wrote: its build plus its delta
        writes = [o for o in ops if o.name in (BUILD_OPS[3], "refresh.sink_append")]
        last = writes[-1] if writes else None
        if last is not None and last.name == "refresh.sink_append" and last.error is None:
            t = pq.read_table(self.store)
            got = set(zip(t.column("title").to_pylist(), t.column("keyword").to_pylist()))
            if got != c.build_edges | c.delta_edges:
                last.error = "stored (title, keyword) edges differ from the generator's truth"
                bad.append(last.error)
        return bad

    def layer_metrics(self, tracer, ops: list[Op]) -> dict:
        m = {}
        for name in BUILD_OPS + REFRESH_OPS:
            m.update(per_call(tracer, name, SUFFIXES))
        m["build.full_build_s"] = phase_s(tracer, BUILD_OPS[0], BUILD_OPS[3])
        m["build.refresh_s"] = phase_s(tracer, "refresh.ingest_txt", "refresh.sink_append")
        # records the build drops: title repeats, plus one document of
        # every near-duplicate pair, over the records read
        kept = next(o.result.count() for o in ops if o.name == BUILD_OPS[0])
        near = {r.dst for o in ops if o.name == BUILD_OPS[1] for r in o.result}
        m["build.dedup_drop_ratio"] = (self.corpus.n_records - kept + len(near)) / self.corpus.n_records
        m["build.store_bytes_per_input_byte"] = _dir_bytes(self.store) / self.corpus.input_bytes
        return m
