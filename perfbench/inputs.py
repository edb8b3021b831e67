"""Seeded benchmark inputs, written with a fixed layout.

Every table is written as ``N_FILES`` parquet files of equal row count,
one row group each. Spark packs files into splits by bytes per core, so
with no more files than cores each file is a split of its own, and with
one row group a file is read by one task even where Spark cuts it into
byte ranges. The scan then runs ``N_FILES`` tasks with rows on any
machine of at least ``N_FILES`` cores: a property of the input, not of
split packing.

- compact pages: ``gen_page`` rows as they are (~2.5 KB html);
- padded pages: the same rows with tens of KB of script/style/nav/comment
  boilerplate before ``</body>``, the Common-Crawl page size. The
  generator checks on every row that ``extract_text`` and
  ``meta_lang_tag`` are unchanged, so the labels are the compact ones;
- dedup corpus and drop: ``(doc_id, text)`` tables of page texts. Every
  ``PLANT_EVERY``-th drop doc is a copy of a corpus doc with words
  replaced until its exact word-3-shingle Jaccard reaches a planted
  target; ``planted_pairs`` recomputes that ground truth on the driver.
"""

from __future__ import annotations

import random

import pandas as pd

from hyperpolyglot_spark.datagen.pages import PAGES_SCHEMA, gen_page
from hyperpolyglot_spark.functions.extract import extract_text, meta_lang_tag
from hyperpolyglot_spark.operators.dedup import word_shingles

N_FILES = 4

PAD_KB = (24, 56)
PLANT_EVERY = 6
PLANT_TARGETS = (1.0, 0.97, 0.93, 0.9, 0.8, 0.7, 0.6)
_PLANT_MIN_WORDS = 60


def _write(df, path: str) -> None:
    # one task per file, rows in id order; files stay far below the
    # default 128 MB row-group size, so each holds one row group
    df.write.mode("overwrite").parquet(path)


# ----------------------------------------------------------------------
# pages
# ----------------------------------------------------------------------

def pad_pool(seed: int) -> list[bytes]:
    """Boilerplate blocks that extraction drops wholesale."""
    rng = random.Random(f"pad-pool:{seed}")
    words = ["var", "function", "return", "window", "document", "track",
             "config", "push", "data", "layer", "event", "init", "load",
             "module", "export", "const", "let", "null", "true", "false"]
    blocks = []
    for i in range(48):
        body = " ".join(rng.choice(words) + str(rng.randrange(1000))
                        for _ in range(rng.randint(150, 350)))
        kind = i % 4
        if kind == 0:
            blk = f"<script>/* {i} */ {body};</script>"
        elif kind == 1:
            blk = f"<style>.c{i} {{ {body.replace(' ', ':0;')} }}</style>"
        elif kind == 2:
            links = "".join(f'<a href="/{w}">{w}</a> ' for w in body.split()[:120])
            blk = f"<nav>{links}</nav>"
        else:
            blk = f"<!-- {body} -->"
        blocks.append(blk.encode())
    return blocks


def pad_html(html: bytes, row_id: int, seed: int, pool: list[bytes]) -> bytes:
    rng = random.Random(f"pad:{seed}:{row_id}")
    target = rng.randint(*PAD_KB) * 1024
    parts, size = [], 0
    while size < target:
        blk = pool[rng.randrange(len(pool))]
        parts.append(blk)
        size += len(blk)
    cut = html.rindex(b"</body>")
    return html[:cut] + b"".join(parts) + html[cut:]


def _pages_batches(seed: int, padded: bool):
    def gen(batches):
        pool = pad_pool(seed) if padded else None
        for batch in batches:
            rows = []
            for i in batch["id"].tolist():
                row = gen_page(int(i), seed)
                if padded:
                    html = pad_html(row["html"], int(i), seed, pool)
                    if (extract_text(html) != row["text"]
                            or meta_lang_tag(html) != meta_lang_tag(row["html"])):
                        raise ValueError(f"padding changed extraction of row {i}")
                    row["html"] = html
                rows.append(row)
            pdf = pd.DataFrame(rows)
            pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True).dt.tz_localize(None)
            yield pdf
    return gen


def pages_frame(spark, n: int, seed: int, padded: bool = False):
    """Rows 0..n-1 of the seed's pages, generated on the executors."""
    return spark.range(0, n, 1, N_FILES).mapInPandas(
        _pages_batches(seed, padded), schema=PAGES_SCHEMA
    )


def write_pages(spark, path: str, n: int, seed: int, padded: bool = False) -> None:
    _write(pages_frame(spark, n, seed, padded), path)


# ----------------------------------------------------------------------
# dedup corpus + drop
# ----------------------------------------------------------------------

def jaccard(a: str, b: str) -> float:
    sa, sb = word_shingles(a), word_shingles(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def _mutate(text: str, target: float, rng: random.Random) -> tuple[str, float]:
    """Replace words of ``text`` one at a time, in a seeded order, while
    the Jaccard to the original stays at or above ``target``."""
    words = text.split()
    order = rng.sample(range(len(words)), len(words))
    best, best_j = text, 1.0
    for pos in order:
        words[pos] = f"zq{rng.randrange(10**6)}x"
        cand = " ".join(words)
        j = jaccard(text, cand)
        if j < target:
            break
        best, best_j = cand, j
    return best, best_j


def planted_pairs(seed: int, n_corpus: int, n_drop: int) -> dict[int, tuple[int, float, str]]:
    """{drop doc_id: (corpus doc_id, exact Jaccard, text)}; distinct
    sources, so the drop holds no exact duplicate of itself."""
    rng = random.Random(f"plant:{seed}")
    sources = iter(rng.sample(range(n_corpus), n_corpus))
    out = {}
    for k, j in enumerate(range(0, n_drop, PLANT_EVERY)):
        while True:
            src = next(sources)
            text = gen_page(src, seed)["text"]
            if len(text.split()) >= _PLANT_MIN_WORDS:
                break
        target = PLANT_TARGETS[k % len(PLANT_TARGETS)]
        mutated, jac = _mutate(text, target, random.Random(f"mutate:{seed}:{j}"))
        out[n_corpus + j] = (src, jac, mutated)
    return out


def _docs_batches(seed: int, offset: int, planted: dict):
    def gen(batches):
        for batch in batches:
            ids = [offset + int(i) for i in batch["id"].tolist()]
            texts = [planted[d][2] if d in planted else gen_page(d, seed)["text"]
                     for d in ids]
            yield pd.DataFrame({"doc_id": ids, "text": texts})
    return gen


def write_docs(spark, path: str, seed: int, offset: int, n: int,
               planted: dict | None = None) -> None:
    """doc_id offset..offset+n-1 with the text of the page of that id,
    or the planted text where one is given."""
    df = spark.range(0, n, 1, N_FILES).mapInPandas(
        _docs_batches(seed, offset, planted or {}),
        schema="doc_id long, text string",
    )
    _write(df, path)
