"""Corpus sources.

The engine's input is a table of source-code files
``(repo, path, commit, lang, content)`` (BASELINE.json input_hint) — the
role the crawled ``page`` table plays in the reference
(``model/Page.java:16-42``; ``site.url`` -> ``repo``, ``page.path`` ->
``path``, ``page.content`` -> ``content``).

Three sources:

- :func:`load_corpus` — read a real table (parquet dir or Iceberg table
  name).  Production path.
- :func:`corpus_from_documents_table` — adapt the driver's generic
  ``documents`` test table to corpus shape (source->repo etc.).
- :func:`generate_corpus_rows` — deterministic synthetic corpus
  (seed=42) per FIXTURES.md §1: Zipf head terms to exercise salting,
  identifiers/digit-seqs to exercise the bypass rules, stop terms to
  exercise the frequency filter.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import DataFrame, SparkSession, functions as F

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]

_LANGS = ["python", "java", "go", "js", "md"]
_LANG_WEIGHTS = [0.35, 0.25, 0.15, 0.15, 0.10]

# language keyword vocabularies: the Zipf *head* of the term distribution
_KEYWORDS = {
    "python": "def class import return self if else for while try except lambda yield with pass raise from print len range dict list str int".split(),
    "java": "public private static void class interface extends implements return new final import package throws try catch int long string boolean".split(),
    "go": "func package import type struct interface return defer go chan map range make new var const nil err error string int".split(),
    "js": "function const let var return class export import async await new typeof undefined null promise console module require".split(),
    "md": "readme install usage example license build test documentation api reference guide tutorial section note warning".split(),
}
# identifier vocab pieces (mid/tail of the distribution)
_IDENT_HEADS = "get set parse build index search query token merge split encode decode fetch handle emit read write load store".split()
_IDENT_TAILS = "manager service handler worker buffer config context result request response cache client server engine store table block batch".split()
# terms present in > searchFilter% of docs (exercise df pruning)
_STOP_TERMS = ["commonterm", "everywhere"]


def _content_for(rng: random.Random, lang: str, n_tokens: int, doc_idx: int) -> str:
    kw = _KEYWORDS[lang]
    toks: list[str] = []
    # stop terms in (almost) every doc
    for st in _STOP_TERMS:
        if rng.random() < 0.97:
            toks.append(st)
    while len(toks) < n_tokens:
        r = rng.random()
        if r < 0.45:  # Zipf-ish head: keyword, rank ~ 1/(i+1)^1.2
            weights = [1.0 / (i + 1) ** 1.2 for i in range(len(kw))]
            toks.append(rng.choices(kw, weights=weights)[0])
        elif r < 0.75:  # camel/snake identifiers
            h, t = rng.choice(_IDENT_HEADS), rng.choice(_IDENT_TAILS)
            toks.append(h + "_" + t if rng.random() < 0.5 else h + t.capitalize())
        elif r < 0.83:  # digit sequences (identifier bypass)
            toks.append(str(rng.randint(10, 99999)))
        elif r < 0.88:  # hyphenated case-ids (identifier bypass)
            toks.append(f"{rng.randint(1,99)}-{rng.randint(100,999)}-{rng.choice('abcdef')}{rng.randint(10,99)}")
        elif r < 0.93:  # punctuation/operators (stripped by tokenizer)
            toks.append(rng.choice(["==", "->", "&&", "||", "+=", "{};", "()", "[]:"]))
        else:  # rare tail terms
            toks.append(f"sym{rng.randint(0, 5000):04d}")
        if rng.random() < 0.12:
            toks.append("\n")
    return " ".join(toks)


def generate_corpus_rows(
    n_repos: int = 5, files_per_repo: int = 40, seed: int = 42
) -> list[tuple[str, str, str, str, str]]:
    """Deterministic synthetic corpus rows (pure Python, seeded).

    Zipf-distributed file counts across repos (per-repo skew); unique
    (repo, path); commit = sha1(repo/path) per FIXTURES.md.
    """
    rng = random.Random(seed)
    rows: list[tuple[str, str, str, str, str]] = []
    doc_idx = 0
    for i in range(n_repos):
        repo = f"repo-{i:03d}"
        # Zipf-ish skew: repo 0 gets ~2x the mean file count, tail fewer
        norm = sum(1.0 / (j + 1) ** 0.8 for j in range(n_repos)) / n_repos
        n_files = max(3, int(files_per_repo * (1.0 / (i + 1) ** 0.8) / norm))
        seen: set[str] = set()
        for _ in range(n_files):
            lang = rng.choices(_LANGS, weights=_LANG_WEIGHTS)[0]
            ext = {"python": "py", "java": "java", "go": "go", "js": "js", "md": "md"}[lang]
            while True:
                pkg = rng.choice(["core", "util", "io", "api", "model", "query", "index"])
                name = rng.choice(_IDENT_HEADS) + rng.choice(_IDENT_TAILS).capitalize() + str(rng.randint(0, 99))
                path = f"src/{pkg}/{name}.{ext}"
                if path not in seen:
                    seen.add(path)
                    break
            commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
            content = _content_for(rng, lang, rng.randint(30, 220), doc_idx)
            rows.append((repo, path, commit, lang, content))
            doc_idx += 1
    return rows


def generate_corpus(
    spark: SparkSession, n_repos: int = 5, files_per_repo: int = 40, seed: int = 42
) -> DataFrame:
    rows = generate_corpus_rows(n_repos, files_per_repo, seed)
    return spark.createDataFrame(rows, schema=CORPUS_COLUMNS)


def _splitmix64(x):
    """Vectorized splitmix64 over a uint64 numpy array (counter-based
    hashing — every token of every doc gets an independent, partition-
    layout-independent 64-bit value, so the generated corpus is
    deterministic no matter how Spark splits the id range)."""
    import numpy as np

    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def generate_corpus_distributed(
    spark: SparkSession,
    n_files: int,
    n_repos: int = 100,
    avg_tokens: int = 120,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Executor-side deterministic corpus — the scale-path fixture.

    ``generate_corpus`` builds rows on the driver (fine for pytest, a
    bottleneck for bench corpora).  This one derives every token from a
    counter-based hash of ``(seed, doc_id, position)`` via splitmix64,
    fully vectorized inside ``mapInPandas`` — so a 10^6-file corpus is
    generated in parallel and is bit-identical across partitionings,
    cluster sizes, and reruns (the property the scaling bench needs:
    identical input at local[8] and local[32]).

    Token distribution mirrors FIXTURES.md §1: Zipf-ish head keywords,
    identifiers, digit sequences, rare tail terms.
    """
    import numpy as np
    import pandas as pd

    all_kw = sorted({w for kws in _KEYWORDS.values() for w in kws})
    idents = sorted(
        {h + "_" + t for h in _IDENT_HEADS for t in _IDENT_TAILS}
        | {h + t.capitalize() for h in _IDENT_HEADS for t in _IDENT_TAILS}
    )
    vocab = np.array(
        all_kw + idents + [f"sym{i:04d}" for i in range(5000)], dtype=object
    )
    n_kw, n_id = len(all_kw), len(idents)
    v_total = len(vocab)
    seed64 = np.uint64(seed * 0x5DEECE66D)

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy(dtype=np.uint64)
            # per-doc token count in [avg/2, 3*avg/2), from the doc hash
            h_doc = _splitmix64(ids ^ seed64)
            n_tok = (avg_tokens // 2 + (h_doc % np.uint64(avg_tokens))).astype(np.int64)
            doc_idx = np.repeat(np.arange(ids.size), n_tok)
            pos = np.arange(doc_idx.size, dtype=np.uint64)
            starts = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
            pos -= np.repeat(starts.astype(np.uint64), n_tok)
            h = _splitmix64((ids[doc_idx] * np.uint64(1_000_003)) ^ pos ^ seed64)
            u = (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            kind = h % np.uint64(100)
            # 45% Zipf-ish keyword head, 30% identifiers, 10% digit
            # sequences, 15% rare tail syms
            kw_i = (n_kw * u**3.0).astype(np.int64)
            id_i = n_kw + (n_id * u).astype(np.int64)
            sym_i = n_kw + n_id + (5000 * u).astype(np.int64)
            tok_i = np.where(kind < 45, kw_i, np.where(kind < 75, id_i, sym_i))
            toks = vocab[np.minimum(tok_i, v_total - 1)].copy()
            digits = kind >= 75
            digits &= kind < 85
            if digits.any():
                toks[digits] = (h[digits] % np.uint64(99999)).astype("U5")
            out = pd.DataFrame({"i": doc_idx, "tok": toks})
            content = out.groupby("i", sort=True)["tok"].agg(" ".join)
            repo_ids = (ids % np.uint64(n_repos)).astype(np.int64)
            yield pd.DataFrame(
                {
                    "repo": [f"repo-{r:04d}" for r in repo_ids],
                    "path": [f"src/gen/f{int(i):010d}.py" for i in ids],
                    "commit": [f"{int(x):016x}" * 2 for x in h_doc],
                    "lang": "python",
                    "content": content.to_numpy(),
                }
            )

    rng = (
        spark.range(n_files)
        if num_partitions is None
        else spark.range(0, n_files, 1, num_partitions)
    )
    return rng.mapInPandas(
        gen, schema="repo string, path string, commit string, lang string, content string"
    )


def is_path_source(source: str) -> bool:
    """True when ``source`` is a parquet path, False when it is a
    catalog (Iceberg) table name — the one rule every reader of a
    corpus source goes by."""
    return "/" in source or source.endswith(".parquet")


def load_corpus(spark: SparkSession, source: str) -> DataFrame:
    """Load the corpus table: Iceberg table name or parquet path
    (:func:`is_path_source`).

    Column pruning/pushdown happen downstream; this returns the raw
    5-column relation (extra columns are dropped).
    """
    if is_path_source(source):
        df = spark.read.parquet(source)
    else:
        df = spark.read.table(source)
    return df.select(*CORPUS_COLUMNS)


def corpus_from_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt /root/testdata's ``documents`` table to corpus shape.

    documents(doc_id, text, lang, source, n_chars) -> (repo=source,
    path=doc-<id>, commit=sha2(text), lang, content=text).  Used by the
    driver-facing bench/entry so the engine exercises real files.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 9, "0")).alias("path"),
        F.sha2(F.col("text"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
