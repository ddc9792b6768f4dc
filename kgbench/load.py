"""Seeded load for the benchmark: a crawl of ``n_pages`` pages in crawl
segments, one extra segment for the delta, and the alias table both link
against.

Pages come from ``sources.synthetic_pages.generate_pages``; page ``i`` lives
in crawl segment ``i // segment_size``, parsed back out of its url by
``bucket_expr`` so the pipeline buckets its work by segment. The alias table
is a fixed dimension: the gazetteer plus a pool of ``FORM_POOL`` made-up
entity names that occur nowhere in a crawl. Each delta segment carries
``NEW_FORMS`` of them, chosen by the seed, so the base build links none of
them and the delta links them all: S3 must take its incremental path and
map exactly those new entities.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NEW_FORMS = 4
FORM_POOL = 32
BASE_SEED = 0  # the delta workload's base crawl, which is built once per checkout

_SYLLABLES = ["zor", "vex", "quin", "tal", "mur", "dax", "plo", "kri", "nev", "oth", "bry", "sul"]
_DELTA_OBJECTS = ["layers", "weights", "attention", "features"]
_PAGE_ID_SQL = "cast(regexp_extract(url, '/page/([0-9]+)$', 1) as long)"


def _page_id():
    return F.expr(_PAGE_ID_SQL)


def bucket_expr(segment_size: int) -> str:
    """The crawl segment of a page, parsed from its url (``run_web_pipeline``'s
    ``bucket_expr``)."""
    return f"floor({_PAGE_ID_SQL} / {segment_size})"


def form_pool() -> list[str]:
    """``FORM_POOL`` distinct CamelCase entity names, the same on every run.

    Each is three syllables plus a digit, so none is a token of a crawl
    (whose vocabulary is fixed English words and the gazetteer)."""
    rng = random.Random("kgbench-forms")
    forms: list[str] = []
    while len(forms) < FORM_POOL:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(3)).capitalize() + str(rng.randrange(10))
        if name not in forms:
            forms.append(name)
    return forms


def new_forms(seed: int) -> list[str]:
    """The ``NEW_FORMS`` surface forms the delta segment of ``seed`` carries."""
    return random.Random(f"kgbench-delta-{seed}").sample(form_pool(), NEW_FORMS)


def aliases(spark: SparkSession) -> DataFrame:
    """Alias table (alias, entity_id, prior, context): the gazetteer rows of
    ``web_pipeline.default_aliases`` plus one row per pooled form."""
    from extremexp_knowledge_graph_spark.sources.synthetic_pages import GAZETTEER

    return spark.createDataFrame(
        [(g.lower(), g, 1.0, g) for g in GAZETTEER + form_pool()],
        ["alias", "entity_id", "prior", "context"],
    )


def write_crawl(spark: SparkSession, path: str, n_pages: int, seed: int) -> None:
    """Write pages ``0 .. n_pages-1`` of ``seed`` to a parquet table."""
    from extremexp_knowledge_graph_spark.sources.synthetic_pages import generate_pages

    generate_pages(spark, n_pages, seed=seed).write.mode("overwrite").parquet(path)


def write_delta_segment(
    spark: SparkSession, path: str, n_pages: int, segment_size: int, seed: int, forms: list[str]
) -> None:
    """Write the delta segment, pages ``n_pages .. n_pages+segment_size-1`` of
    ``seed``, to a parquet table.

    Every page gets one extra paragraph ``<Form> uses <object>.`` (form
    ``i mod len(forms)`` on delta page ``i``), in both its html and its
    ground-truth text, so the extraction kernel must still recover the text
    byte for byte."""
    from extremexp_knowledge_graph_spark.sources.synthetic_pages import generate_pages

    k = _page_id() - F.lit(n_pages)
    sentence = F.concat(
        F.element_at(F.array(*[F.lit(f) for f in forms]), (k % len(forms) + 1).cast("int")),
        F.lit(" uses "),
        F.element_at(F.array(*[F.lit(o) for o in _DELTA_OBJECTS]), (k % len(_DELTA_OBJECTS) + 1).cast("int")),
        F.lit("."),
    )
    html = F.decode("html", "utf-8")
    pages = generate_pages(spark, n_pages + segment_size, seed=seed).where(k >= 0).select(
        "url",
        "warc_ts",
        F.encode(
            F.concat(
                F.substring_index(html, "</article>", 1),
                F.lit("<p>"), sentence, F.lit("</p></article>"),
                F.substring_index(html, "</article>", -1),
            ),
            "utf-8",
        ).alias("html"),
        F.concat("text", F.lit("\n\n"), sentence).alias("text"),
        "lang",
    )
    pages.write.mode("overwrite").parquet(path)
