"""Corpus curation workload: generated document shards through the LLM-data
operators, survivors appended to a lake table.

Each shard plants four kinds of document next to unique ones, each with a
higher ``doc_id`` than the document it copies, so every dedup step keeps
the original:

- exact copies (same text and embedding),
- near copies (the last word replaced: word-3-shingle Jaccard above 0.9),
- semantic copies (new text, the original's embedding),
- low-quality documents (short runs of digits, no stopwords).

The survivors of a shard are therefore exactly its unique documents.
"""

from __future__ import annotations

import os
import random
import sys
import time

STOP = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on", "with", "as"]
# word endings that carry each language's profile trigrams in operators.text
LANG_ENDINGS = {"en": ["ing", "tion", "ent"], "es": ["ado", "cion", "que"],
                "fr": ["les", "des", "ent"], "de": ["sch", "und", "ein"],
                "zh": ["ang", "ian", "zh"]}
SOURCES = ["src0", "src1", "src2", "src3"]


class CorpusGenerator:
    def __init__(self, seed: int, cfg: dict):
        self.rng = random.Random(seed)
        self.cfg = cfg
        self.next_id = 0
        self.vocab: dict[str, list[str]] = {}

    def build_vocab(self) -> None:
        letters = "bcdfghjklmnprstvwz"
        vowels = "aeiou"
        for lang, ends in LANG_ENDINGS.items():
            words = set()
            while len(words) < self.cfg["vocab_per_lang"]:
                stem = "".join(self.rng.choice(letters) + self.rng.choice(vowels)
                               for _ in range(self.rng.randint(1, 3)))
                words.add(stem + self.rng.choice(ends))
            self.vocab[lang] = sorted(words)

    def _text(self, lang: str) -> str:
        rng, vocab = self.rng, self.vocab[lang]
        n = rng.randint(*self.cfg["doc_words"])
        return " ".join(rng.choice(STOP) if rng.random() < 0.2 else rng.choice(vocab) for _ in range(n))

    def _embedding(self) -> list[float]:
        return [self.rng.gauss(0.0, 1.0) for _ in range(self.cfg["embedding_dim"])]

    def shard(self) -> tuple[list[dict], dict]:
        """One shard's documents and what was planted in it: ``unique`` ids,
        ``exact``/``near``/``semantic`` (original, copy) pairs, ``low`` ids."""
        rng, cfg = self.rng, self.cfg
        n = cfg["docs_per_shard"]
        n_copy = {k: int(n * cfg["planted_frac"][k]) for k in ("exact", "near", "semantic", "low")}
        n_unique = n - sum(n_copy.values())
        docs = []

        def add(text, emb, lang):
            docs.append({"doc_id": self.next_id, "text": text, "lang": lang,
                         "source": rng.choice(SOURCES), "n_chars": len(text), "embedding": emb})
            self.next_id += 1
            return docs[-1]

        for _ in range(n_unique):
            lang = rng.choice(list(LANG_ENDINGS))
            add(self._text(lang), self._embedding(), lang)
        originals = rng.sample(docs, n_copy["exact"] + n_copy["near"] + n_copy["semantic"])
        planted = {"unique": [d["doc_id"] for d in docs], "exact": [], "near": [], "semantic": [], "low": []}
        for i, o in enumerate(originals):
            if i < n_copy["exact"]:
                c = add(o["text"], o["embedding"], o["lang"])
                planted["exact"].append((o["doc_id"], c["doc_id"]))
            elif i < n_copy["exact"] + n_copy["near"]:
                words = o["text"].split()
                words[-1] = "near" + words[-1]
                c = add(" ".join(words), self._embedding(), o["lang"])
                planted["near"].append((o["doc_id"], c["doc_id"]))
            else:
                c = add(self._text(o["lang"]), list(o["embedding"]), o["lang"])
                planted["semantic"].append((o["doc_id"], c["doc_id"]))
        for _ in range(n_copy["low"]):
            text = " ".join(str(rng.randrange(10**6)) for _ in range(rng.randint(2, 6)))
            planted["low"].append(add(text, self._embedding(), "xx")["doc_id"])
        return docs, planted


def write_shard(docs: list[dict], path: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {k: [d[k] for d in docs] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
        "embedding": pa.array([d["embedding"] for d in docs], pa.list_(pa.float32())),
    })
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return os.path.getsize(path)


class CorpusWorkload:
    """Closed loop, one client: land one shard, curate it, append the
    survivors, run the post-batch reads, then land the next shard."""

    def __init__(self, spark, root: str, seed: int, cfg: dict, tracer):
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.lake_root = os.path.join(root, "lake")
        os.makedirs(self.landing)
        self.gen = CorpusGenerator(seed, cfg)
        self.n_files = 0
        self.landing_bytes = 0
        self.batches: list[dict] = []  # per shard: planted truth + operator outputs
        self.expected_rows = 0

    @property
    def table_path(self) -> str:
        return os.path.join(self.lake_root, "curated")

    def generate(self) -> float:
        """Build the generator's vocabularies; returns the wall time."""
        t0 = time.perf_counter()
        self.gen.build_vocab()
        return time.perf_counter() - t0

    def setup(self, repeats: int) -> list[float]:
        """Create the curated table ``repeats`` times in fresh roots (the last
        one is used); returns each creation's wall time."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType
        from incremental_etl_on_lakehouse_spark.lake import LakeTable

        schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType()),
                             StructField("source", StringType()), StructField("lang_guess", StringType())])
        times = []
        for i in range(repeats):
            root = self.lake_root if i == repeats - 1 else os.path.join(self.root, f"lake_setup{i}")
            t0 = time.perf_counter()
            LakeTable.create(self.spark, os.path.join(root, "curated"), schema,
                             properties={"enableChangeDataFeed": "true"})
            times.append(time.perf_counter() - t0)
        return times

    def run_batch(self) -> dict:
        from pyspark.sql import functions as F
        from incremental_etl_on_lakehouse_spark.lake import LakeTable
        from incremental_etl_on_lakehouse_spark.operators import dedup, similarity, text

        tr, spark = self.tracer, self.spark
        with tr.span("bench.land"):
            docs, planted = self.gen.shard()
            path = os.path.join(self.landing, f"shard_{self.n_files:06d}.parquet")
            self.n_files += 1
            self.landing_bytes += write_shard(docs, path)
            landed_at = time.perf_counter()
        # each step materializes its output, so its span holds its own work
        with tr.span("corpus.load"):
            shard = spark.read.parquet(path).localCheckpoint()
        with tr.span("text.quality"):
            good = text.quality_score(shard).where(f"quality_score >= {self.cfg['min_quality']}")
            good = good.select("doc_id").localCheckpoint()
        with tr.span("text.lang_id"):
            langs = text.language_id(shard).select("doc_id", "lang_guess").localCheckpoint()
        with tr.span("dedup.exact"):
            exact = dedup.dedup_exact(shard.join(good, "doc_id", "left_semi"), ["text"]).localCheckpoint()
        with tr.span("dedup.minhash"):
            pairs = dedup.minhash_lsh_pairs(exact).localCheckpoint()
        with tr.span("dedup.components"):
            comps = dedup.connected_components(pairs).localCheckpoint()
        with tr.span("similarity.semantic_dedup"):
            sem = similarity.semantic_dedup(
                exact.select(F.col("doc_id").alias("vec_id"), "embedding"),
                k=self.cfg["semantic_clusters"],
            ).localCheckpoint()
        near_dups = comps.where("id <> component").select(F.col("id").alias("doc_id"))
        sem_dups = sem.where("NOT kept").select(F.col("vec_id").alias("doc_id"))
        survivors = (
            exact.join(near_dups, "doc_id", "left_anti")
            .join(sem_dups, "doc_id", "left_anti")
            .join(langs, "doc_id")
            .select("doc_id", "text", "source", "lang_guess")
        )
        table = LakeTable(spark, self.table_path)
        table.append(survivors)
        done = time.perf_counter()
        self.batches.append({"planted": planted, "path": path, "exact": exact, "pairs": pairs,
                             "sem": sem, "docs": {d["doc_id"]: d["text"] for d in docs}})
        self.expected_rows += len(planted["unique"])
        failed = self.validation_reads(planted)
        return {"records": len(docs), "latencies": [done - landed_at],
                "read_s": time.perf_counter() - done, "failed": failed}

    def validation_reads(self, planted: dict) -> int:
        """Full table count, lookup of one new survivor, the newest version's
        change feed and time travel to the version before it, each checked."""
        from incremental_etl_on_lakehouse_spark.lake import LakeTable

        tr = self.tracer
        probe = planted["unique"][len(planted["unique"]) // 2]
        with tr.span("reads.validate"):
            table = LakeTable(self.spark, self.table_path)
            v = table.version()
            total = table.to_df().count()
            row = table.to_df().where(f"doc_id = {probe}").select("text").collect()
            added = table.read_changes(v, v).count()
            before = table.to_df(version=v - 1).count()
        with tr.span("bench.check"):
            want_text = self.batches[-1]["docs"][probe]
            n_new = len(planted["unique"])
            return sum([total != self.expected_rows,
                        [r[0] for r in row] != [want_text],
                        added != n_new,
                        before != self.expected_rows - n_new])

    def final_check(self) -> tuple[int, int]:
        """Per shard: exact-dedup survivors against DuckDB ``GROUP BY text``
        over the quality-passing documents, every planted pair found; then
        the curated table against the union of unique documents."""
        import duckdb
        from incremental_etl_on_lakehouse_spark.lake import LakeTable

        checks = failed = 0
        con = duckdb.connect()
        try:
            for b in self.batches:
                planted = b["planted"]
                low = ",".join(str(i) for i in planted["low"]) or "NULL"
                want = {r[0] for r in con.execute(
                    f"SELECT min(doc_id) FROM read_parquet('{b['path']}') "
                    f"WHERE doc_id NOT IN ({low}) GROUP BY text").fetchall()}
                got = {r[0] for r in b["exact"].select("doc_id").collect()}
                pairs = {(r[0], r[1]) for r in b["pairs"].select("id_a", "id_b").collect()}
                dropped = {r[0] for r in b["sem"].where("NOT kept").select("vec_id").collect()}
                results = [
                    got == want,
                    all(c not in got for _, c in planted["exact"]),
                    all(p in pairs for p in planted["near"]),
                    all(c in dropped for _, c in planted["semantic"]),
                ]
                checks += len(results)
                for name, ok in zip(("exact", "exact_pairs", "near_pairs", "semantic_pairs"), results):
                    if not ok:
                        print(f"oracle: shard {b['path']}: {name} check failed", file=sys.stderr)
                        failed += 1
        finally:
            con.close()
        want_rows = {(i, b["docs"][i]) for b in self.batches for i in b["planted"]["unique"]}
        got_rows = {(r[0], r[1]) for r in LakeTable(self.spark, self.table_path).to_df()
                    .select("doc_id", "text").collect()}
        checks += 1
        if got_rows != want_rows:
            print(f"oracle: curated table differs from the unique documents "
                  f"({len(got_rows ^ want_rows)} rows)", file=sys.stderr)
            failed += 1
        return checks, failed

    def lsh_counts(self, first: int) -> tuple[int, int]:
        """(candidate pairs from banding, verified pairs) over the shards from
        index ``first`` on: candidates recomputed from the public band table."""
        from pyspark.sql import functions as F
        from incremental_etl_on_lakehouse_spark.operators import dedup

        cand = verified = 0
        for b in self.batches[first:]:
            bands = dedup.minhash_band_table(b["exact"])
            x, y = bands.alias("x"), bands.alias("y")
            cand += (x.join(y, (F.col("x.band") == F.col("y.band")) & (F.col("x.bucket") == F.col("y.bucket"))
                            & (F.col("x.id") < F.col("y.id")))
                     .select("x.id", "y.id").distinct().count())
            verified += b["pairs"].count()
        return cand, verified
