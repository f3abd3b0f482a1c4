"""Seeded inputs for the benchmark workloads.

``clean_short`` uses the package's default corpus
(``generate_corpus_distributed``). ``commit_pii_long`` needs documents about
ten times longer, each carrying several PII / secret / blocklist values,
some of them adjacent and some overlapping, so that the detect/scrub loop
dominates the crossing. ``long_doc_row`` builds one such row from
(seed, row id) alone, so the corpus is the same on any partitioning.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

from safe_zone_spark.sources.corpus import LANG_VOCAB, LANGS, PII_BANK, wrap_html

# The job's --blocklist for this workload: PII_BANK's BLOCKWORD value.
BLOCKLIST = frozenset({"PROJECT-X"})

# Values that raise more than one candidate span, so the overlap resolver
# has to choose (IBAN_TR with a CREDIT_CARD run inside it; ten digits that
# are both PHONE_TR and VKN; sixteen digits that are CREDIT_CARD and MERSIS).
OVERLAPPING = (
    "TR12 3456 7890 1234 5678 9012 34",
    "5321234567",
    "1234567890123456",
)

_BASE_TS = dt.datetime(2025, 6, 1)
_HEAVY_HOSTS = tuple(f"heavy{k}.example" for k in range(5))


def long_doc_row(seed: int, i: int) -> dict:
    """One long document: 20-60 sentences with 3-8 inserted values, about a
    fifth of them overlapping and a quarter adjacent pairs."""
    rng = random.Random((seed << 32) ^ i)
    lang = LANGS[rng.randrange(len(LANGS))]
    vocab = LANG_VOCAB[lang]
    joiner = "" if lang == "zh" else " "
    sentences = [
        joiner.join(rng.choice(vocab) for _ in range(rng.randint(6, 18)))
        for _ in range(rng.randint(20, 60))
    ]
    for _ in range(rng.randint(3, 8)):
        r = rng.random()
        if r < 0.2:
            value = OVERLAPPING[rng.randrange(len(OVERLAPPING))]
        elif r < 0.45:
            value = " ".join(PII_BANK[rng.randrange(len(PII_BANK))][1] for _ in range(2))
        else:
            value = PII_BANK[rng.randrange(len(PII_BANK))][1]
        sentences.insert(rng.randrange(len(sentences) + 1), value)
    text = ". ".join(sentences)
    if rng.random() < 0.10:
        host = _HEAVY_HOSTS[rng.randrange(len(_HEAVY_HOSTS))]
    else:
        host = f"host{rng.randrange(1000)}.example"
    return {
        "url": f"https://{host}/l/{i:08d}",
        "warc_ts": _BASE_TS + dt.timedelta(days=rng.randrange(30),
                                          seconds=rng.randrange(86400)),
        "html": wrap_html(text, i),
        "text": text,
        "lang": lang,
    }


LONG_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_long_corpus(spark, n_rows: int, seed: int, num_partitions: int):
    """Distributed build of the long-document corpus (one row per range id)."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([long_doc_row(seed, int(i)) for i in pdf["id"]])

    return spark.range(0, n_rows, 1, num_partitions).mapInPandas(gen, LONG_SCHEMA)
