"""Seeded benchmark inputs, generated once per (kind, seed, size) and cached.

Two page corpora, both in the engine's canonical input shape
(url, warc_ts, html, text, lang):

* ``fixture`` pages come straight from ``sources.fixture_gen`` (Zipf hosts,
  ~5% jumbo, ~2% malformed), keyed by the seed.
* ``webify`` pages wrap seeded plain-text documents with the same
  ``operators.webify.wrap_row`` the engine's ``webify_documents`` stage
  uses, then repeat the page set a seed-chosen number of times under
  ``?copy=<k>`` urls, so exact dedup and near-dup have real work.

The ``text`` column is the expected extraction, compared per url after
every job. Generation runs in child processes (``python3 corpus.py <kind>
<seed> <n> <lo> <hi> <out>``, one row range each) and is written to
``perfbench/.cache/`` through a tmp file and an atomic rename, so it is paid
once per seed and never counted in ``setup_s``.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# the plain-text document shape of the engine's `documents` table:
# short bag-of-words texts over a tiny vocabulary, 20 sources, five langs
_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
NEAR_DUP_SHARE = 0.03
ROW_GROUP = 500


def _fixture_rows(seed: int, n: int, lo: int, hi: int) -> list[dict]:
    from ocr_award_extractor_spark.sources.fixture_gen import synth_document

    rows = [synth_document(i, seed) for i in range(lo, hi)]
    for r in rows:
        r.pop("_meta")
    return rows


def seeded_documents(seed: int, n_docs: int) -> list[dict]:
    """(doc_id, text, lang, source) rows; a few are near-duplicates of an
    earlier document (one word swapped), as in a real crawl."""
    rng = random.Random(f"perfbench-docs:{seed}")
    docs = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = docs[rng.randrange(i)]["text"].split(" ")
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))]
        docs.append({"doc_id": i, "text": " ".join(words),
                     "lang": rng.choice(_LANGS), "source": f"src{i % 20}"})
    return docs


def _webify_rows(seed: int, n: int, lo: int, hi: int) -> list[dict]:
    from ocr_award_extractor_spark.operators.webify import wrap_row

    copies, out = webify_copies(seed), []
    for d in seeded_documents(seed, n)[lo:hi]:
        page = wrap_row(d["doc_id"], d["text"], d["lang"], d["source"])
        for k in range(copies):
            out.append({**page, "url": f"{page['url']}?copy={k}"})
    return out


def webify_copies(seed: int) -> int:
    """How many times the webify page set repeats (2 or 3), from the seed."""
    return 2 + random.Random(f"perfbench-copies:{seed}").randrange(2)


_ROWS = {"fixture": _fixture_rows, "webify": _webify_rows}


def _schema():
    import pyarrow as pa

    return pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])


def ensure_corpus(kind: str, seed: int, n: int, procs: int) -> str:
    """Path of the cached parquet for (kind, seed, n), generating it first
    if needed. ``n`` is pages for ``fixture`` and source documents for
    ``webify`` (pages = n × webify_copies(seed))."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if kind not in _ROWS:
        raise ValueError(f"unknown corpus kind {kind!r}")
    path = os.path.join(CACHE_DIR, f"{kind}_s{seed}_n{n}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    step = -(-n // procs)
    parts = [(lo, min(lo + step, n), f"{tmp}.{lo}") for lo in range(0, n, step)]
    children = [subprocess.Popen([sys.executable, os.path.abspath(__file__), kind,
                                  str(seed), str(n), str(lo), str(hi), part])
                for lo, hi, part in parts]
    codes = [c.wait() for c in children]
    try:
        if any(codes):
            raise RuntimeError(f"corpus generation failed: exit codes {codes}")
        table = pa.concat_tables(pq.read_table(part) for _lo, _hi, part in parts)
        pq.write_table(table, tmp, row_group_size=ROW_GROUP)
        os.replace(tmp, path)
    finally:
        for _lo, _hi, part in parts:
            if os.path.exists(part):
                os.remove(part)
    return path


def _main(argv: list[str]) -> None:
    """Child entry: write rows [lo, hi) of one corpus to one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    kind, seed, n, lo, hi, out = argv
    rows = _ROWS[kind](int(seed), int(n), int(lo), int(hi))
    pq.write_table(pa.Table.from_pylist(rows, schema=_schema()), out)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _main(sys.argv[1:])
