"""Seeded inputs. ``--seed`` picks the doc-id window, the drop contents and
the query parameters here; the package only ever receives the generated
pages and node ids.

Pages come from the package's own deterministic page generator
(``sources.pages``), evaluated over an arbitrary doc-id window — the same
generator the heuristic extractor's planted-triple truth is derived from.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd

from research_knowledge_graph_spark.sources import pages as P


def doc_window(seed: int, n_docs: int, span: int = 1_000_000) -> range:
    """A contiguous window of ``n_docs`` doc ids chosen by ``seed``."""
    lo = random.Random(f"window:{seed}").randrange(0, span)
    return range(lo, lo + n_docs)


def pages_df(spark, ids, vocab_scale: int, partitions: int):
    """pages(url, warc_ts, html, text, lang) for doc ids ``ids`` (a range or
    a list) — row for row what ``synthesize_pages`` emits for the same ids."""
    if isinstance(ids, range):
        base = spark.range(ids.start, ids.stop, numPartitions=partitions)
    else:
        base = spark.createDataFrame([(int(i),) for i in ids], "id long").repartition(partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                url, title, body, lang = P._make_page(int(doc_id), vocab_scale)
                html = P._render_html(title, body, url.split("/")[2]).encode("utf-8")
                ts = pd.Timestamp("2024-01-01", tz="UTC") + pd.Timedelta(
                    seconds=(int(doc_id) * 2711) % 31_536_000
                )
                rows.append((url, ts, html, body, lang))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return base.mapInPandas(gen, P.PAGES_SCHEMA)


def planted(ids, vocab_scale: int) -> set[tuple[str, str, str, str]]:
    return {t for d in ids for t in P.planted_triples_py(d, vocab_scale)}


def sample_ids(seed: int, ids: range, k: int) -> list[int]:
    return sorted(random.Random(f"sample:{seed}").sample(list(ids), k))


def query_rounds(seed: int, types, paper_ids: list[str], method_ids: list[str]):
    """Endless seeded rounds; each round is every query type once, in a
    seeded order, with seeded node parameters. Whole rounds keep the mix
    identical between runs of different length."""
    rng = random.Random(f"queries:{seed}")
    while True:
        order = list(types)
        rng.shuffle(order)
        yield [
            (
                q,
                {
                    "paper": rng.choice(paper_ids),
                    "starts": rng.sample(method_ids, min(5, len(method_ids))),
                },
            )
            for q in order
        ]
