"""Seeded corpus generator for the benchmark workloads.

Pages are derived from the repository's ``documents`` test table, vendored
under ``perfbench/data/`` so that a run reads nothing outside its checkout.
The vendored copy is plain text (see :func:`encode_documents`), one line per
document: its language and its words, each word written as one letter.
Every property of a generated page is a function of ``(seed, doc, variant)``
expressed as Spark Column expressions: which source document a generated
document takes its words from, its token salt, family size, perturbation
choice, noise, hard-negative pairing and domain assignment. Nothing is
collected to the driver.

The documents table draws its text from a vocabulary of about thirty words,
so any two documents are near-duplicates of each other. As in
``sources.pages.pages_from_documents``, every token is therefore salted with
a per-document prefix; the words, their order and the document lengths stay
those of the source document. Every similarity between pages is planted:

* near-duplicate *variants* of a document (salted noise tokens, rotation,
  token drops, diacritics, boilerplate suffix, mirror hosts);
* *hard negatives*: pairs of distinct documents that share a fraction of
  their token positions, so they co-block and score near the threshold.
  Own salts start with "aa" and sort before every other token of a page,
  so a pair never shares the lowest-sorting tokens that prefix and
  fingerprint-head features compare;
* a planted *hot domain* holding a fixed share of documents, and page
  chrome ("menu links" on every page, the site name in each footer),
  which make blocking keys large enough for salting and stop-keys.

The pages table handed to the program has the pipeline's input schema
(url, warc_ts, html, text, lang). Ground truth (url -> doc) is a separate
table the program never sees; urls are hashes, not doc ids.
"""

from __future__ import annotations

import math
import os
import string
import sys
import zlib
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
HOT_DOMAIN = "hot-portal.example.com"
EPOCH_S = 1577836800
SALT_LEN = 6
AZ = "abcdefghijklmnopqrstuvwxyz"
BOILER = ["home", "about", "contact", "privacy", "terms", "careers"]
CODES = string.ascii_letters  # word i of a vendored table's vocabulary is CODES[i]


@dataclass(frozen=True)
class Shape:
    """Distribution parameters of one generated corpus."""

    n_docs: int
    fam_min: int           # family size range, inclusive
    fam_max: int
    single_pct: int        # % of docs forced to a single page
    noise_pct: int         # per-token replacement probability of a variant, %
    drop_pct: int          # per-token drop probability of a variant, %
    hard_neg_pct: int      # % of docs paired with a hard-negative partner
    share_pct: int         # % of token positions a hard-negative pair shares
    hot_pct: int           # % of docs on the planted hot domain
    source: str = "sf0.1"  # which vendored documents table to derive from
    n_sites: int = 400


def _h(seed: int, tag: str, *cols: Column) -> Column:
    """Non-negative 63-bit hash of (seed, tag, cols)."""
    return F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), *cols), F.lit(2 ** 62))


def _pct(seed: int, tag: str, *cols: Column) -> Column:
    return F.pmod(_h(seed, tag, *cols), F.lit(100))


def _rank(seed: int, tag: str, i: Column, n: int) -> Column:
    """A seeded permutation of 0..n-1 evaluated at i: i times a multiplier
    near n/phi (coprime to n, so neighbouring indices land far apart) plus
    a seeded offset. Sizes and flags are taken from ranks, so every seed
    yields the same multiset of them (only which document gets which
    changes) and the workload's size does not vary with the seed."""
    mult = max(int(n * 0.6180339887), 1)
    while math.gcd(mult, n) != 1:
        mult += 1
    off = zlib.crc32(f"{seed}:{tag}".encode()) % n
    return F.pmod(i * mult + off, F.lit(n))


def _share(seed: int, tag: str, i: Column, n: int, pct: int) -> Column:
    """True for exactly round(pct% of n) of the indices 0..n-1."""
    return _rank(seed, tag, i, n) < round(n * pct / 100)


def _spread(seed: int, tag: str, i: Column, n: int, lo: int, hi: int) -> Column:
    """Values lo..hi spread evenly over the indices 0..n-1."""
    return F.lit(lo) + F.floor(_rank(seed, tag, i, n) * (hi - lo + 1) / n).cast("long")


def _letters(k: Column, base: int, width: int, alphabet: str) -> Column:
    """k written as ``width`` base-``base`` digits spelled with ``alphabet``
    (letters only: digits would put every token into the numeric-conflict
    sketch)."""
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"[:base]
    return F.translate(F.lpad(F.lower(F.conv(k.cast("string"), 10, base)), width, "0"),
                       digits, alphabet)


def _salt(seed: int, tag: str, i: Column, head: str, alphabet: str) -> Column:
    """Distinct SALT_LEN-letter salt, ``head`` followed by letters of
    ``alphabet``, for each i below the number of such salts."""
    width = SALT_LEN - len(head)
    base = len(alphabet)
    return F.concat(F.lit(head), _letters(_rank(seed, tag, i, base ** width),
                                          base, width, alphabet))


def encode_documents(parquet_path: str, out_path: str) -> None:
    """Write a documents table (doc_id, text, lang) as the vendored text
    form: a vocabulary line, then "lang<TAB>codes" per document in doc_id
    order, where codes spells the document's words one letter each (so at
    most len(CODES) distinct words)."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=["doc_id", "text", "lang"]).to_pydict()
    vocab = sorted({w for text in t["text"] for w in text.split()})
    code = {w: CODES[i] for i, w in enumerate(vocab)}
    with open(out_path, "w", encoding="ascii") as f:
        f.write("#vocabulary\t" + " ".join(vocab) + "\n")
        for _, text, lang in sorted(zip(t["doc_id"], t["text"], t["lang"])):
            f.write(lang + "\t" + "".join(code[w] for w in text.split()) + "\n")


def documents(spark: SparkSession, source: str) -> tuple[DataFrame, int]:
    """The vendored documents table as (row, words, lang), ``row`` ranking
    the documents by length (ties by doc_id), and its row count."""
    path = os.path.join(DATA, f"documents_{source}.tsv")
    with open(path, encoding="ascii") as f:
        vocab = dict(zip(CODES, f.readline().rstrip("\n").split("\t")[1].split(" ")))
        docs = [line.rstrip("\n").split("\t") for line in f]
    words = [[vocab[c] for c in codes] for _, codes in docs]
    order = sorted(range(len(docs)), key=lambda i: (len(words[i]), i))
    table = pd.DataFrame({"row": range(len(docs)), "words": [words[i] for i in order],
                          "lang": [docs[i][0] for i in order]})
    return spark.createDataFrame(table, "row long, words array<string>, lang string"), len(docs)


def _source_row(seed: int, sh: Shape, doc: Column, n_rows: int) -> Column:
    """Source document of generated document ``doc``. Documents below
    ``n_docs`` take one row from each of ``n_docs`` equal length strata, so
    every seed sees nearly the same length distribution; later documents
    (delta pages) take any row."""
    stride = max(n_rows // sh.n_docs, 1)
    strat = F.floor(doc * n_rows / sh.n_docs) + F.pmod(_h(seed, "row", doc), F.lit(stride))
    return F.when(doc < sh.n_docs, F.least(strat, F.lit(n_rows - 1))) \
        .otherwise(F.pmod(_h(seed, "row", doc), F.lit(n_rows))).cast("long")


def _with_words(seed: int, sh: Shape, ids: DataFrame, table: DataFrame,
                n_rows: int) -> DataFrame:
    """ids(doc, ...) -> + words, lang of its source document, and
    lead_words: the words of the pair's first document, which a
    hard-negative pair's shared positions take."""
    doc = F.col("doc")
    rows = F.broadcast(table)
    out = ids.withColumn("row", _source_row(seed, sh, doc, n_rows)).join(rows, "row")
    lead = rows.select(F.col("row").alias("lead_row"), F.col("words").alias("lead_words"))
    lead_row = _source_row(seed, sh, F.floor(doc / 2) * 2, n_rows)
    return out.withColumn("lead_row", lead_row).join(lead, "lead_row") \
        .drop("row", "lead_row")


def _tokens(seed: int, sh: Shape, docs: DataFrame) -> DataFrame:
    """docs(doc, v, words, lead_words, ...) -> docs(doc, v, ..., toks, kept).

    ``toks`` is the salted token array of the document. A hard-negative
    pair (docs 2j, 2j+1 when pair j is selected) takes ``share_pct`` of its
    positions from the pair's lead document under a pair salt, the rest
    from its own words under its own salt. ``kept`` is variant ``v``'s
    tokens after noise and drops; a noise token keeps the word under a
    fresh seven-letter salt starting with "x", so it matches no token of
    any document and never sorts first.

    The tokens are exploded to one row each and gathered back in order, so
    every per-token expression runs as generated code; inside an array
    lambda it would be interpreted, which costs seconds in a cold JVM.
    """
    doc, v, i, tok = F.col("doc"), F.col("v"), F.col("i"), F.col("tok")
    pair = F.floor(doc / 2)
    lead = F.col("lead_words")
    paired = (doc < sh.n_docs) & _share(seed, "hn", pair, max(sh.n_docs // 2, 1),
                                        sh.hard_neg_pct)
    salted = F.when(
        paired & (_pct(seed, "share", pair, i) < sh.share_pct),
        F.concat(_salt(seed, "psalt", pair, "", "nopqrstuvwxyz"),
                 F.element_at(lead, (F.pmod(i, F.size(lead)) + 1).cast("int"))),
    ).otherwise(F.concat(_salt(seed, "salt", doc, "aa", AZ), F.col("w")))
    fresh = F.concat(F.lit("x"), _letters(F.pmod(_h(seed, "noise", doc, v, i), F.lit(26 ** 6)),
                                          26, 6, AZ),
                     F.substring(tok, SALT_LEN + 1, 64))
    noisy = F.when(_pct(seed, "rep", doc, v, i) < sh.noise_pct, fresh).otherwise(tok)
    kept = _pct(seed, "drop", doc, v, i) >= sh.drop_pct
    keys = [c for c in docs.columns if c not in ("words", "lead_words")]
    per_token = (
        docs.select(*keys, lead, F.posexplode("words").alias("i", "w"))
        .select(*keys, i, salted.alias("tok"))
        .select(*keys, F.struct(i, tok).alias("t"),
                F.when(kept, F.struct(i, noisy.alias("tok"))).alias("k"))
    )
    # collect_list skips the nulls of dropped tokens; sorting the structs
    # sorts by position
    return per_token.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).getField("tok").alias("toks"),
        F.array_sort(F.collect_list("k")).getField("tok").alias("kept"),
    )


def _family_size(seed: int, sh: Shape, doc: Column) -> Column:
    size = _spread(seed, "fam", doc, sh.n_docs, sh.fam_min, sh.fam_max)
    return F.when(_share(seed, "single", doc, sh.n_docs, sh.single_pct), F.lit(1)) \
        .otherwise(size)


def _domain(seed: int, sh: Shape, doc: Column) -> Column:
    site = F.concat(_letters(F.pmod(_h(seed, "site", doc), F.lit(sh.n_sites)) * 997,
                             26, 5, AZ), F.lit(".com"))
    return F.when(_share(seed, "hot", doc, sh.n_docs, sh.hot_pct), F.lit(HOT_DOMAIN)) \
        .otherwise(site)


def _variant_page(seed: int, doc: Column, v: Column, toks: Column, kept: Column,
                  dom: Column) -> dict[str, Column]:
    """Columns of variant ``v`` of ``doc``; v = 0 is the unperturbed page."""
    n = F.size(kept)
    rot = F.pmod(_h(seed, "rot", doc, v), F.greatest(n, F.lit(1)))
    rotated = F.concat(F.slice(kept, rot + 1, n - rot), F.slice(kept, 1, rot))
    style = _pct(seed, "style", doc, v)
    body = (
        F.when(v == 0, F.concat_ws(" ", toks))
        .when(style < 30, F.concat_ws(" ", rotated))
        .when(style < 55, F.translate(F.concat_ws(" ", kept), "aeiou", "áéíöü"))
        .when(style < 75, F.concat_ws(" ", kept, F.lit(" ".join(BOILER[:4]))))
        .otherwise(F.concat_ws(" ", kept))
    )
    host = F.when(
        (v > 0) & (_pct(seed, "mirror", doc, v) < 35),
        F.concat(F.lit("mirror"), _letters(F.pmod(_h(seed, "mhost", doc, v), F.lit(40)),
                                           26, 2, AZ),
                 F.lit(".org")),
    ).otherwise(dom)
    title = F.concat_ws(" ", F.slice(toks, 1, 3))
    site = F.regexp_replace(F.split(host, r"\.")[0], "-", "")
    html = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit("</title><script>var x='IGNORED';</script><style>.n{color:red}"
              "</style></head><body><nav>menu &amp; links</nav><h1>"), title, F.lit("</h1><p>"),
        body,
        F.lit("</p><footer>&copy; "), site, F.lit("</footer></body></html>"),
    ).cast("binary")
    url = F.concat(F.lit("https://"), host, F.lit("/p"), F.hex(_h(seed, "url", doc, v)))
    return {
        "url": url,
        "warc_ts": F.timestamp_seconds(
            F.lit(EPOCH_S) + F.pmod(_h(seed, "ts", doc, v), F.lit(86400 * 365))),
        "html": html,
        "text": F.lit(None).cast("string"),
        "lang": F.col("lang"),
    }


def _pages(spark: SparkSession, seed: int, sh: Shape, ids: DataFrame,
           keep: tuple = ()) -> DataFrame:
    """ids(doc, v, *keep) -> pages + truth column ``doc`` + ``keep``."""
    table, n_rows = documents(spark, sh.source)
    docs = _with_words(seed, sh, ids, table, n_rows)
    doc, v = F.col("doc"), F.col("v")
    docs = _tokens(seed, sh, docs)
    page = _variant_page(seed, doc, v, F.col("toks"), F.col("kept"), _domain(seed, sh, doc))
    return docs.select(*[c.alias(k) for k, c in page.items()], doc, *keep)


def _family_ids(spark: SparkSession, seed: int, sh: Shape, n_partitions: int) -> DataFrame:
    """(doc, v) of every page of the ``sh.n_docs`` document families."""
    docs = spark.range(0, sh.n_docs, numPartitions=n_partitions) \
        .select(F.col("id").alias("doc"))
    return docs.select(
        "doc", F.explode(F.sequence(F.lit(0), _family_size(seed, sh, F.col("doc")) - 1))
        .alias("v"))


def corpus(spark: SparkSession, seed: int, sh: Shape,
           n_partitions: int) -> DataFrame:
    """All families of ``sh.n_docs`` documents: url, warc_ts, html, text,
    lang, doc (doc is ground truth and must be dropped before the program
    sees the table)."""
    return _pages(spark, seed, sh, _family_ids(spark, seed, sh, n_partitions))


def corpus_and_delta(spark: SparkSession, seed: int, sh: Shape, n_batches: int,
                     size: int, n_partitions: int) -> DataFrame:
    """The corpus as batch -1 and ``n_batches`` delta batches of ``size``
    pages each, generated in one pass, with a ``batch`` column. In a delta
    batch, even slots are fresh variants of a corpus document (ids below
    ``sh.n_docs``) and odd slots are pages of new documents (ids from
    ``sh.n_docs`` up, one page each)."""
    rows = spark.range(0, n_batches * size, numPartitions=n_partitions)
    slot = F.col("id")
    near = _h(seed, "dpick", slot) % sh.n_docs
    delta = rows.select(
        F.floor(slot / size).cast("int").alias("batch"),
        F.when(slot % 2 == 0, near).otherwise(F.lit(sh.n_docs) + slot).alias("doc"),
        # variant ids far above any family size, unique per slot
        F.when(slot % 2 == 0, F.lit(1_000_000) + slot).otherwise(F.lit(0)).alias("v"),
    )
    ids = _family_ids(spark, seed, sh, n_partitions).withColumn("batch", F.lit(-1)) \
        .unionByName(delta)
    return _pages(spark, seed, sh, ids, keep=("batch",))


if __name__ == "__main__":
    # python3 perfbench/gen.py <documents.parquet> <out.tsv>
    encode_documents(*sys.argv[1:3])
