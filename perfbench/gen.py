"""Seeded page generator for the benchmark workloads.

Every page is built here from ``random.Random(seed)``; nothing is read from
the repository's own synthesis code (``data/pages.py`` only emits format A
and depends on fixture files).  Five page shapes, each matching one kernel
path of ``kernel.parse_document``:

* ``A``       Word-HTML with CSS classes (``p.af1`` lines) -> fastscan;
* ``A-dom``   the same, plus one tag with an unbalanced quote, which the
              fast tokenizer cannot read -> fastscan declines, DOM slow path;
* ``B``       Word-HTML with inline styles (``p.a7`` lines, red headwords);
* ``C``       idrviewer PDF->HTML (absolutely positioned ``#tN_P`` spans);
* ``D``       pdf2htmlEX (``#page-container``, ``ff*``/``fc*`` line divs);
* ``generic`` a web article with nav/aside/footer furniture and outlinks.

The recipe (shape mix, size distribution, host and duplicate skew) is part
of each workload's definition in ``workloads.py``; ``check_recipe`` asserts
the kernel sees the shapes the recipe asked for.
"""

from __future__ import annotations

import bisect
import datetime
import math
import random
import statistics

# Lezgi and Russian vocabulary (the dictionaries are Lezgi<->Russian), plus a
# small English pool for generic web pages.  Only letters: no markup
# characters, no apostrophes (the A-dom shape relies on that).
LEZ = (
    "къван цӀай яд ччил рагъ варз гъед тӀвар кӀвач гъил кьил вил мез сив ктаб "
    "мектеб хуьр шегьер дагъ вацӀ там цуьк ттар хъач нек фу як шекер гъуьр "
    "тӀуьн хъвун атун фин акун ван рахун кхьин кӀелун авун хъсан пис цӀийи "
    "къуьзуь яру лацу чӀулав вили хъипи гуьзел аял дишегьли итим стха вах дуст "
    "мугъман югъ йиф гатфар гад зул хъуьтӀуь кӀвалах чӀал уьлкве халкь"
).split()
RUS = (
    "дом вода огонь земля солнце луна звезда имя нога рука голова глаз язык "
    "рот книга школа село город гора река лес цветок дерево трава молоко хлеб "
    "мясо сахар мука есть пить прийти уйти видеть слышать говорить писать "
    "читать делать большой маленький хороший плохой новый старый красный "
    "белый чёрный синий жёлтый красивый ребёнок женщина мужчина брат сестра "
    "друг гость день ночь весна лето осень зима также очень только работа "
    "страна народ"
).split()
ENG = (
    "the river valley people market village winter summer language teacher "
    "school mountain road bridge harvest weather history museum library "
    "garden music festival family dinner morning evening travel station "
    "report council water energy forest field story writer poem song city "
    "north south east west small large early late quiet busy open closed "
    "new old first last local public private simple careful bright dark "
    "walk build carry bring visit study learn speak listen write read"
).split()
LABELS = ("сущ", "прил", "гл", "нареч", "перен", "разг")


def _words(rng: random.Random, pool, n: int) -> str:
    return " ".join(rng.choice(pool) for _ in range(n))


def _sentence(rng: random.Random, pool, lo: int, hi: int) -> str:
    s = _words(rng, pool, rng.randint(lo, hi))
    return s[0].upper() + s[1:] + "."


def lognormal_size(rng: random.Random, median: int, sigma: float, lo: int, hi: int) -> int:
    return int(min(hi, max(lo, median * math.exp(rng.gauss(0.0, sigma)))))


# --- dictionary shapes -------------------------------------------------------

_A_HEAD = (
    '<!doctype html>\n<html><head><meta charset="utf-8"><title>{title}</title>\n'
    '<style type="text/css">p.af1{{margin:0cm}}span.af{{color:#C00000;'
    "font-weight:bold}}span.a1{{font-style:italic}}span.aff0{{font-weight:bold}}"
    "</style></head><body>\n"
)


def page_a(rng: random.Random, size: int, broken: bool = False) -> str:
    parts = [_A_HEAD.format(title=rng.choice(LEZ).upper())]
    n = len(parts[0])
    while n < size:
        entry = (
            f'<p class="af1"><span class="af">{rng.choice(LEZ).upper()}</span>'
            f'<span class="af2"> </span><span class="a1">{rng.choice(LABELS)}</span>. '
            f"{_words(rng, RUS, rng.randint(4, 14))}</p>\n"
        )
        if rng.random() < 0.6:
            entry += (
                f'<p class="af1">♦ <span class="aff0">{_words(rng, LEZ, rng.randint(2, 5))}'
                f'</span> <span class="a1">{rng.choice(LABELS)}</span>. '
                f"{_words(rng, RUS, rng.randint(3, 9))}</p>\n"
            )
        parts.append(entry)
        n += len(entry.encode())
    if broken:
        # unbalanced quote, no apostrophe after it: the regex tokenizer cannot
        # read this tag, so fastscan declines and parse_html takes the stdlib
        # path (html.parser recovers the tag)
        parts.append(
            f'<p class="af1"><span class="af">{rng.choice(LEZ).upper()}</span> '
            f"{_words(rng, RUS, 3)} <span title=don't>{rng.choice(RUS)}</span></p>\n"
        )
    parts.append("</body></html>\n")
    return "".join(parts)


_B_HEAD = (
    '<html><head><meta http-equiv=Content-Type content="text/html; charset=utf-8">'
    "<style>p.a7{margin:0cm}span.hw{color:#C0504D;font-weight:bold}"
    "span.it{font-style:italic}span.b{font-weight:bold}</style></head>"
    "<body lang=RU>\n"
)


def page_b(rng: random.Random, size: int) -> str:
    parts = [_B_HEAD]
    n = len(_B_HEAD)
    while n < size:
        defs = []
        for k in range(1, rng.randint(1, 4) + 1):
            bold = f" <span class=b>{_words(rng, LEZ, 2)}</span>" if rng.random() < 0.4 else ""
            defs.append(f"{k}. {_words(rng, LEZ, rng.randint(2, 6))}{bold}")
        sup = f"<sup>{rng.randint(1, 3)}</sup>" if rng.random() < 0.2 else ""
        line = (
            f"<p class=a7><span class=hw>{rng.choice(RUS).upper()}</span>{sup} "
            f"<span class=it>{rng.choice(LABELS)}</span> {' '.join(defs)}</p>\n"
        )
        parts.append(line)
        n += len(line.encode())
    parts.append("</body></html>\n")
    return "".join(parts)


_C_FONTS = (
    "TimesNewRomanPS-BoldMT_f7m",
    "TimesNewRomanPSMT_f7b",
    "TimesNewRomanPS-ItalicMT_f7i",
)


def page_c(rng: random.Random, size: int) -> str:
    pg = rng.randint(1, 400)
    spans: list[tuple[int, str, int, int]] = []  # (font, text, left, bottom)
    spans.append((0, rng.choice(LEZ)[0].upper() + " ", 300, 1134))  # page title
    bottom = 1100
    est = 600
    while est < size:
        left = 100 if rng.random() < 0.5 else 560
        spans.append((0, rng.choice(LEZ).upper() + " ", left, bottom))
        if rng.random() < 0.4:
            spans.append((2, "-" + rng.choice(LEZ)[-3:] + " ", left + 60, bottom))
        spans.append((1, _words(rng, RUS, rng.randint(2, 6)) + " ", left + 120, bottom))
        if rng.random() < 0.3:
            spans.append((0, rng.choice(LEZ) + " ", left + 200, bottom - 14))
        bottom -= 28
        if bottom < 40:
            bottom = 1100
        est += 190
    css = [
        f".s{i + 1}_{pg}{{font-family:{f};font-size:14px;}}" for i, f in enumerate(_C_FONTS)
    ]
    body = []
    for i, (font, text, left, bottom) in enumerate(spans, 1):
        css.append(f"#t{i}_{pg}{{left:{left}px;bottom:{bottom}px;}}")
        body.append(f'<span id="t{i}_{pg}" class="t s{font + 1}_{pg}">{text}</span>\n')
    return (
        '<!DOCTYPE html>\n<html><head><meta charset="utf-8">'
        '<meta name="generator" content="idrviewer">\n'
        f"<title>Page {pg}</title><style>{''.join(css)}</style></head>\n"
        f'<body><div id="p{pg}" class="page-{pg}">\n{"".join(body)}</div></body></html>\n'
    )


def page_d(rng: random.Random, size: int) -> str:
    parts = [
        '<!DOCTYPE html>\n<html><head><meta charset="utf-8">'
        '<meta name="generator" content="pdf2htmlEX"/>'
        "<style>.ff1{font-family:ff1}.ff7{font-family:ff7}.fc0{color:#000}"
        ".fc2{color:#2e74b5}</style></head>\n"
        '<body><div id="sidebar"><div id="outline"></div></div>\n'
        '<div id="page-container"><div id="pf1" class="pf w0 h0" data-page-no="1">'
        '<div class="pc pc1 w0 h0">\n'
        '<div class="t m0 x1 h2 y0 ff1 fs0 fc1 ws1">lezgi-dictionary.example </div>\n'
    ]
    n = sum(len(p) for p in parts)
    y = 1
    while n < size:
        line = (
            f'<div class="t m0 x1 h2 y{y} ff7 fs0 fc2">{rng.choice(LEZ).upper()}'
            f'<span class="_ _1"></span><span class="ff1 fc0"> {rng.choice(LABELS)}. '
            f"{_words(rng, RUS, rng.randint(3, 10))} </span></div>\n"
        )
        y += 1
        if rng.random() < 0.4:
            line += (
                f'<div class="t m0 x1 h2 y{y} ff1 fs0 fc0">'
                f"{_words(rng, RUS, rng.randint(4, 12))} </div>\n"
            )
            y += 1
        parts.append(line)
        n += len(line.encode())
    parts.append("</div></div></div></body></html>\n")
    return "".join(parts)


# --- generic web pages ---------------------------------------------------------


def article(rng: random.Random, pool, size: int) -> tuple[str, list[str]]:
    """(h1 title, paragraphs) of roughly ``size`` bytes of article text."""
    title = _sentence(rng, pool, 3, 7)[:-1]
    paras = []
    n = 0
    while n < size or not paras:
        p = " ".join(_sentence(rng, pool, 6, 16) for _ in range(rng.randint(2, 5)))
        paras.append(p)
        n += len(p.encode())
    return title, paras


def page_generic(
    rng: random.Random,
    url: str,
    title: str,
    paras: list[str],
    links: list[str],
    noindex: bool = False,
) -> str:
    host = url.split("/")[2]
    nav = " ".join(
        f'<a href="{u}">{rng.choice(ENG)}</a>' for u in ["/"] + links[: len(links) // 2]
    )
    body_paras = []
    inline = links[len(links) // 2 :]
    for i, p in enumerate(paras):
        if i < len(inline):
            words = p.split(" ")
            cut = len(words) // 2
            p = (
                " ".join(words[:cut])
                + f' <a href="{inline[i]}">{words[cut]}</a> '
                + " ".join(words[cut + 1 :])
            )
        body_paras.append(f"<p>{p}</p>")
    robots = '<meta name="robots" content="noindex, follow">' if noindex else ""
    return (
        f'<!doctype html>\n<html lang="en"><head><meta charset="utf-8">'
        f"<title>{title} - {host}</title>{robots}"
        f'<link rel="canonical" href="{url}"></head>\n<body>'
        f'<header><nav class="menu">{nav}</nav></header>\n'
        f"<main><article><h1>{title}</h1>\n" + "\n".join(body_paras) + "\n</article></main>\n"
        f'<aside class="sidebar"><ul><li><a href="/tags">{rng.choice(ENG)}</a></li>'
        f'<li><a href="/archive">{rng.choice(ENG)}</a></li></ul></aside>\n'
        f'<footer><p>{host} <a href="/privacy">privacy</a> '
        f'<a href="/contact">contact</a></p></footer></body></html>\n'
    )


# --- page tables ----------------------------------------------------------------

WARC_EPOCH = datetime.datetime(2024, 8, 7, tzinfo=datetime.timezone.utc)


def _row(i: int, url: str, html: str, lang: str, shape: str) -> dict:
    return {
        "url": url,
        "warc_ts": WARC_EPOCH + datetime.timedelta(seconds=i),
        "html": html.encode("utf-8"),
        "lang": lang,
        "shape": shape,
    }


def _quota(rng: random.Random, n: int, mix: dict[str, float]) -> list[str]:
    """``n`` shapes in the exact proportions of ``mix`` (largest remainder),
    in seeded order: every seed gives the same amount of each kind of work."""
    exact = {k: n * w / sum(mix.values()) for k, w in mix.items()}
    count = {k: int(v) for k, v in exact.items()}
    for k in sorted(exact, key=lambda k: count[k] - exact[k])[: n - sum(count.values())]:
        count[k] += 1
    shapes = [k for k in mix for _ in range(count[k])]
    rng.shuffle(shapes)
    return shapes


def _lognormal_sizes(rng: random.Random, n: int, median: int, sigma: float, lo: int,
                     hi: int) -> list[int]:
    """``n`` sizes at the log-normal's quantiles, in seeded order."""
    z = statistics.NormalDist()
    sizes = [int(min(hi, max(lo, median * math.exp(sigma * z.inv_cdf((i + 0.5) / n)))))
             for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def dictionary_pages(
    seed: int,
    n: int,
    mix: dict[str, float],
    median_bytes: int,
    sigma: float,
    oversized: float = 0.0,
    guard_bytes: int = 0,
) -> list[dict]:
    """Dictionary pages with shapes in the proportions of ``mix`` and
    log-normal sizes per shape; a share ``oversized`` of each shape is built
    above ``guard_bytes``.  Shapes and sizes are stratified, so seeds differ
    in the pages' words and order, not in how much work they hold."""
    rng = random.Random(seed)
    shapes = _quota(rng, n, mix)
    hi = int(guard_bytes * 0.9) if guard_bytes else 400_000
    sizes: dict[str, list[int]] = {}
    for shape in mix:
        c = shapes.count(shape)
        big = round(c * oversized)
        sizes[shape] = _lognormal_sizes(rng, c - big, median_bytes, sigma, 1500, hi) + [
            int(guard_bytes * (1.2 + 0.8 * (i + 0.5) / big)) for i in range(big)
        ]
        rng.shuffle(sizes[shape])
    rows = []
    for i, shape in enumerate(shapes):
        size = sizes[shape].pop()
        if shape == "A":
            html = page_a(rng, size)
        elif shape == "A-dom":
            html = page_a(rng, size, broken=True)
        elif shape == "B":
            html = page_b(rng, size)
        elif shape == "C":
            html = page_c(rng, size)
        elif shape == "D":
            html = page_d(rng, size)
        else:
            title, paras = article(rng, RUS, size - 900)
            html = page_generic(rng, f"https://dict{i % 7}.example/{i}.html", title, paras,
                                [f"https://dict{rng.randint(0, 6)}.example/{rng.randint(0, n)}.html"
                                 for _ in range(4)])
        lang = "rus" if shape in ("B", "generic") else "lez"
        rows.append(_row(i, f"https://dict.example/{seed}/{shape}/{i}.html", html, lang, shape))
    return rows


def edit_words(rng: random.Random, paras: list[str], pool, frac: float) -> list[str]:
    """``paras`` with a share ``frac`` of their words replaced from ``pool``."""
    out = []
    for p in paras:
        words = p.split(" ")
        for j in range(len(words)):
            if rng.random() < frac:
                words[j] = rng.choice(pool)
        out.append(" ".join(words))
    return out


def zipf_sampler(rng: random.Random, n: int, s: float):
    weights = [1.0 / (r + 1) ** s for r in range(n)]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def draw() -> int:
        return bisect.bisect_left(cum, rng.random() * acc)

    return draw


def crawl_pages(
    seed: int,
    n: int,
    hosts: int,
    zipf_s: float,
    dup_frac: float,
    thin_frac: float,
    noindex_frac: float,
    median_bytes: int,
    sigma: float,
    edit_frac: float,
) -> list[dict]:
    """Generic web pages on Zipf-distributed hosts with Zipf-distributed
    outlink targets.  ``dup_frac`` of pages repeat an earlier page's article
    on another host with different furniture: half keep its main text
    exactly (``dup``), half replace a seeded ``edit_frac`` of its words
    (``near-dup``, word-trigram Jaccard ~0.8, which MinHash-LSH must still
    catch); ``thin_frac`` carry a single short paragraph (fails the quality
    gate); ``noindex_frac`` carry ``<meta name=robots content=noindex>``."""
    rng = random.Random(seed)
    host_of = zipf_sampler(rng, hosts, zipf_s)
    rows = []
    articles: list[tuple[str, list[str], str]] = []
    for i in range(n):
        host = f"site{host_of()}.example"
        url = f"https://{host}/p/{i}.html"
        links = [
            f"https://site{host_of()}.example/p/{rng.randint(0, n - 1)}.html"
            for _ in range(rng.randint(3, 12))
        ]
        r = rng.random()
        if articles and r < dup_frac:
            title, paras, lang = rng.choice(articles)
            shape = "dup"
            if rng.random() < 0.5:
                paras = edit_words(rng, paras, ENG if lang == "en" else RUS, edit_frac)
                shape = "near-dup"
        elif r < dup_frac + thin_frac:
            lang = rng.choice(("en", "ru"))
            title = _sentence(rng, ENG if lang == "en" else RUS, 2, 3)[:-1]
            paras = [_sentence(rng, ENG if lang == "en" else RUS, 4, 5)]
            shape = "thin"
        else:
            lang = rng.choice(("en", "ru"))
            size = lognormal_size(rng, median_bytes, sigma, 800, 60_000)
            title, paras = article(rng, ENG if lang == "en" else RUS, size)
            articles.append((title, paras, lang))
            shape = "article"
        noindex = shape == "article" and rng.random() < noindex_frac
        html = page_generic(rng, url, title, paras, links, noindex=noindex)
        rows.append(_row(i, url, html, lang, "noindex" if noindex else shape))
    return rows
