"""Deterministic synthetic Common-Crawl-style pages table.

Implements FIXTURES.md §1: ``pages(url, warc_ts, html, text, lang)``
with boilerplate-wrapped main content, a deliberately hot host (25% of
rows — exercises salting), mixed encodings, xhtml, malformed markup,
embedded-image pages, PDF payloads, and (near-)empty bodies.

The ``text`` column is the EXPECTED main text computed here from the
known paragraphs — independently of the extractor in
``operators/htmlx.py`` — so pipelines can assert byte-identical
extraction per url (BASELINE.json north_rule). Generation is keyed by
row id (``random.Random(f"{seed}:{i}")``) so output is identical under
any partitioning, and runs distributed via ``mapInPandas`` over
``spark.range`` (no driver-side loop).

The synthetic sentinel strings mirror the reference's fixture style
(``TestPDFContent1 on TestPDFPage1`` — testdata/README.md,
test_etl_file.py:34-41).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from open_semantic_etl_spark.operators.pdfio import build_pdf
from open_semantic_etl_spark.schema import PAGES_SCHEMA

HOT_HOST = "big.example.com"
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# Small per-language pools: ~every 3rd word is a common function word so
# language identification has signal; the langdetect operator keeps its
# own (much larger) public stopword lists.
_WORDS = {
    "en": (
        "market system research climate window table record story number "
        "policy travel garden music energy answer history picture moment "
        "question village example service growth".split(),
        "the of and to in that it was for on with as his they at be this".split(),
    ),
    "de": (
        "markt system forschung klima fenster tabelle geschichte nummer "
        "politik reise garten musik energie antwort bild moment frage "
        "dorf beispiel dienst wachstum entwicklung".split(),
        "der die und in den von zu das mit sich des auf für ist im nicht".split(),
    ),
    "fr": (
        "marché système recherche climat fenêtre tableau histoire nombre "
        "politique voyage jardin musique énergie réponse image moment "
        "question village exemple service croissance".split(),
        "le de la et les des en un du une que est pour qui dans par".split(),
    ),
    "es": (
        "mercado sistema investigación clima ventana tabla historia número "
        "política viaje jardín música energía respuesta imagen momento "
        "pregunta pueblo ejemplo servicio crecimiento".split(),
        "el de la que y en los del se las por un para con no una su".split(),
    ),
}
_LANG_WHEEL = ["en", "en", "en", "en", "en", "en", "de", "de", "fr", "es"]

_BOILER_LINKS = ["Home", "About", "Contact", "Products", "Privacy", "Terms", "Blog"]

# Deterministic injectables so downstream extractors (emails, phones,
# hashtags, IBAN, law, money, gazetteer NER) have real hits at bench scale.
_INJECT = [
    lambda r, i: f"contact us at user{i}@example-site{i % 7}.org today",
    lambda r, i: f"call +49 30 {1000000 + i % 899999} now",
    lambda r, i: f"trending topic #topic{i % 50}news online",
    lambda r, i: f"account DE{75 + i % 20:02d}512108001245{126000 + i % 999:06d} listed",
    lambda r, i: f"see Strafgesetzbuch § {12 + i % 300} Abs. {1 + i % 4} for details",
    lambda r, i: f"priced at {100 + i % 9000} $ on the open market",
    lambda r, i: "",
]


def _paragraph(rng: random.Random, lang: str, n_words: int, extra: str = "") -> str:
    content, stop = _WORDS[lang]
    words = []
    for j in range(n_words):
        pool = stop if j % 3 == 1 else content
        words.append(rng.choice(pool))
    if extra:
        pos = rng.randrange(len(words))
        words.insert(pos, extra)
    return " ".join(" ".join(words).split())


def _boiler_nav(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/{w.lower()}">{w}</a></li>' for w in rng.sample(_BOILER_LINKS, 5)
    )
    return f"<nav><ul>{items}</ul></nav>"


def _boiler_extras(rng: random.Random) -> tuple[str, str]:
    aside = (
        "<aside>We use cookies to improve your experience on this site "
        '<a href="#a">Accept</a> <a href="#d">Decline</a></aside>'
    )
    farm = "".join(
        f'<div><a href="/t/{k}">{rng.choice(_BOILER_LINKS)} link {k}</a></div>'
        for k in range(rng.randint(2, 5))
    )
    footer = "<footer>Copyright 2024 ExampleCorp. All rights reserved.</footer>"
    return aside + farm, footer


def page_record(i: int, seed: int = 42, profile: str = "default") -> dict:
    """Pure function: row id → one pages row (url, warc_ts, html, text, lang).

    ``profile="heavy"`` produces a real Common-Crawl-size page (~40 KB
    html mean, up to ~60 KB: 60-90 long paragraphs, large link farms
    and a comments section) with the same closed-loop byte-identity
    contract — the extractor must return exactly ``text``. The default
    ~2-3 KB profile stays for fast tests and round-to-round bench
    comparability.
    """
    rng = random.Random(f"{seed}:{i}")
    variant = i % 10
    lang = "de" if variant == 5 else _LANG_WHEEL[rng.randrange(len(_LANG_WHEEL))]
    heavy = profile == "heavy"

    if i % 4 == 0:
        url = f"https://{HOT_HOST}/section{i % 13}/page-{i}.html"
    else:
        url = f"https://www.site{i % 97}.example.org/{'a/' * (i % 3)}doc-{i}.html"
    warc_ts = _EPOCH + timedelta(seconds=(i * 37) % 86_400_000)

    title = _paragraph(rng, lang, 3)
    n_paras = rng.randint(60, 90) if heavy else rng.randint(2, 5)
    lo_words, hi_words = (50, 90) if heavy else (30, 70)
    paras = []
    for p in range(n_paras):
        extra = _INJECT[(i + p) % len(_INJECT)](rng, i) if p == 1 else ""
        paras.append(_paragraph(rng, lang, rng.randint(lo_words, hi_words), extra))

    if variant == 8:  # PDF payload row
        html = build_pdf(paras, title=title, n_images=(1 if i % 3 == 0 else 0))
        return {
            "url": url.replace(".html", ".pdf"),
            "warc_ts": warc_ts,
            "html": html,
            "text": "\n".join(paras),
            "lang": lang,
        }
    if variant == 9:  # (near-)empty body
        html = b"<html><head><title>empty</title></head><body>  \n </body></html>"
        return {"url": url, "warc_ts": warc_ts, "html": html, "text": "", "lang": lang}

    heading = " ".join(_paragraph(rng, lang, 2).split()[:2])[:20]
    body_main = [f"<h2>{heading}</h2>"]
    for p, para in enumerate(paras):
        words = para.split(" ")
        k = rng.randrange(len(words))
        linked = list(words)
        linked[k] = f'<a href="/w/{k}">{words[k]}</a>'  # inline link, low density
        ptxt = " ".join(linked)
        body_main.append(f"<p>{ptxt}</p>" if variant != 7 else f"<p>{ptxt}")
    img = '<img src="/img/fig1.png" alt="">' if i % 3 == 0 else ""
    aside_farm, footer = _boiler_extras(rng)
    if heavy:
        # CC-profile chrome: big related-links farm + comment teasers,
        # all link-dense/short — the boilerplate classifier must strip
        # them, keeping the byte-identity contract over `paras` alone
        farm = "".join(
            f'<li><a href="/rel/{k}">{rng.choice(_BOILER_LINKS)} story {k}</a></li>'
            for k in range(rng.randint(80, 150))
        )
        comments = "".join(
            f'<div class="c"><a href="/u/{k}">user{k}</a> said: '
            f'<a href="/c/{k}">reply {k}</a></div>'
            for k in range(rng.randint(40, 80))
        )
        aside_farm = (
            aside_farm
            + f"<aside><ul>{farm}</ul></aside>"
            + f"<aside>{comments}</aside>"
        )
    doc = (
        "<html><head><title>{t}</title>"
        '<meta name="description" content="{d}">{cs}</head><body>'
        "<header><div>ExampleCorp site tagline</div></header>{nav}"
        "<main>{main}{img}</main>{aside}{footer}"
        "<script>var never = 'x';</script></body></html>"
    )
    charset = '<meta charset="utf-8">'
    encoding = "utf-8"
    if variant == 5:
        charset = '<meta charset="iso-8859-1">'
        encoding = "latin-1"
    prefix = ""
    if variant == 6:
        prefix = '<?xml version="1.0" encoding="utf-8"?>\n'
        doc = doc.replace("<html>", '<html xmlns="http://www.w3.org/1999/xhtml">')
    html_str = prefix + doc.format(
        t=title,
        d=_paragraph(rng, lang, 6),
        cs=charset,
        nav=_boiler_nav(rng),
        main="".join(body_main),
        img=img,
        aside=aside_farm,
        footer=footer,
    )
    html = html_str.encode(encoding, "replace")
    expected = "\n".join(paras)
    return {"url": url, "warc_ts": warc_ts, "html": html, "text": expected, "lang": lang}


def pages_df(spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None, profile: str = "default") -> DataFrame:
    """Distributed deterministic pages table: spark.range → mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [page_record(int(i), seed, profile) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    rng_df = spark.range(n_rows, numPartitions=partitions)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)
