"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``(workload, seed)``. The seed picks
words, sentences and which earlier turn a near-copy imitates; the *shape*
of each table (row count, the length class of each row, which rows are
empty, garbage, tool turns or near-copies) is fixed by the row's position.
That keeps the work per run nearly the same from one seed to the next, so
the spread between seeds measures the engine rather than the generator.

The engine never sees this module: ``write_input`` stores the table as
parquet files, and the benchmark hands the engine ``spark.read.parquet``.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = datetime(2024, 1, 1)

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])

# Word banks: real words, so the readability gate passes real prose and
# only the deliberate OCR garbage fails it. fr/de carry accents and
# umlauts, so most documents are non-ASCII.
_WORDS = {
    "fr": (
        "voiture autonomie rapport résultats essais région ingénieurs "
        "configuration production méthode traitement documents moteur "
        "hybride sécurité routière bibliothèque municipale semaine analyse "
        "écarts mesures chapitre procédure installation logiciel paramètres "
        "guide technique réseau données serveur équipe projet réunion "
        "décision stratégie marché clients qualité contrôle système "
        "développement évaluation modèle précision étude société économie "
        "histoire musée théâtre élève université recherche santé hôpital "
        "énergie électricité fenêtre forêt rivière château été hiver"
    ).split(),
    "de": (
        "Bericht Ergebnisse Messung Labor Anlage Frühjahr Störung Betrieb "
        "Planung Erfolg Projekts entscheidend Prüfung Gebäude Straße Brücke "
        "Fahrzeug Geschwindigkeit Übersicht Größe Lösung Änderung Qualität "
        "Mitarbeiter Unternehmen Kunden Daten Netzwerk Rechner Sicherheit "
        "Entwicklung Verfahren Schritt Anleitung Werkzeug Zeitraum Woche "
        "Verwaltung Bürger Gemeinde Schule Universität Forschung Gesundheit "
        "Krankenhaus Energie Strom Fenster Wald Fluss Schloss Sommer Winter "
        "schnell genau wichtig möglich natürlich übrig ständig"
    ).split(),
    "en": (
        "extraction pipeline document streaming fashion engineers design "
        "quarterly planning session distributed system partial failure data "
        "report findings field experiment throughput cache layer spring "
        "readers introduction results committee proposal debate tooling "
        "production incidents harbor evening benchmarking improvements noise "
        "network server team project meeting decision strategy market quality "
        "control development evaluation model precision study history museum"
    ).split(),
}
_GLUE = {"fr": "le la les un une des et de du en sur pour avec dans".split(),
         "de": "der die das ein eine und von mit für auf im zum bei".split(),
         "en": "the a an and of to in on for with by at from".split()}

_OCR_GARBAGE = [
    ".S89IN0SXe", "~QuaWeanesedus|", "Jeu900", "B,)", "aJANe0",
    "wedinbZ,|", "a}UasaYU", "UONeIOeNEJ", "JUSWEWLIOJUOD", "x9TR4qz",
]

def _lang(i: int) -> str:
    """4 in 10 fr, 3 in 10 de, 3 in 10 en — fixed by position."""
    return ("fr", "de", "fr", "en", "de", "fr", "en", "de", "fr", "en")[i % 10]


def _sentence(rng: random.Random, lang: str) -> str:
    words, glue = _WORDS[lang], _GLUE[lang]
    n = rng.randrange(7, 15)
    out = [rng.choice(words) if k % 2 == 0 else rng.choice(glue) for k in range(n)]
    out[0] = out[0][:1].upper() + out[0][1:]
    return " ".join(out) + rng.choice((".", ".", ".", "!", "?"))


def _prose(rng: random.Random, lang: str, min_chars: int) -> str:
    parts: list[str] = []
    size = 0
    while size < min_chars:
        s = _sentence(rng, lang)
        parts.append(s)
        size += len(s) + 1
    return " ".join(parts)


def _garbage(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_OCR_GARBAGE) for _ in range(n_words))


# --- chunks_docs: long multi-format documents --------------------------------

_NAV = ('<nav><a href="/">Accueil</a> <a href="/docs">Docs</a> '
        '<a href="/blog">Blog</a> <a href="/about">About</a></nav>\n'
        '<div class="sidebar"><ul><li><a href="/l1">Lien rapide un</a></li>'
        '<li><a href="/l2">Lien rapide deux</a></li>'
        '<li><a href="/l3">Lien rapide trois</a></li></ul></div>')
_FOOTER = ('<footer><a href="/contact">Contact</a> <a href="/terms">Terms</a>'
           ' <span>© 2024 Example Corp</span></footer>')


def _html_doc(rng: random.Random, lang: str, size: int) -> str:
    paras = []
    body = 0
    while body < size:
        p = _prose(rng, lang, rng.randrange(300, 700))
        paras.append(f"<p>{p}</p>")
        body += len(p)
    title = f"Article {rng.randrange(10000)}"
    return (f"<html><head><title>{title}</title>"
            "<style>.m{color:#333}</style></head>\n<body>\n"
            f"{_NAV}\n<article>\n<h1>{title}</h1>\n" + "\n".join(paras)
            + f"\n</article>\n{_FOOTER}\n</body></html>")


def _pdf_doc(rng: random.Random, lang: str, size: int) -> str:
    """Prose with the PDF-extraction artifacts the pdf cleaner targets:
    page markers, hyphenated line breaks, rule lines, vertical text and
    the French missing-space errors."""
    lines: list[str] = []
    body = 0
    k = 0
    while body < size:
        p = _prose(rng, lang, rng.randrange(250, 600))
        lines.append(p)
        body += len(p)
        art = k % 5
        if art == 0:
            lines.append(f"- Page {rng.randrange(1, 99)} -")
        elif art == 1:
            lines.append("Equipe-\nment livré avec le véhicule")
        elif art == 2:
            lines.append("-----")
        elif art == 3:
            lines.append("e\nm\nm\na")
        else:
            lines.append("Cela apermis de distinguer Ala fin eouvert la suite")
        k += 1
    return "\n".join(lines)


def _markdown_doc(rng: random.Random, lang: str, size: int) -> str:
    out = [f"# Document {rng.randrange(10000)}"]
    body = 0
    sec = 0
    while body < size:
        sec += 1
        out.append(f"\n## Section {sec}\n")
        if sec % 2 == 0:
            out.append(f"### Détail {sec}.1\n")
        p = _prose(rng, lang, rng.randrange(400, 900))
        out.append(p)
        body += len(p)
        if sec % 3 == 0:
            out.append("\n- premier élément\n- deuxième élément\n- troisième élément")
        if sec % 4 == 0:
            out.append("\n| colonne A | colonne B |\n| --- | --- |\n| a1 | b1 |")
    return "\n".join(out)


def chunks_docs(seed: int, n: int) -> pd.DataFrame:
    """Long documents (≥3 KB each): HTML with nav/footer boilerplate,
    PDF-artifact text and long markdown in equal thirds."""
    rows = []
    makers = (_html_doc, _pdf_doc, _markdown_doc)
    for i in range(n):
        rng = random.Random(f"docs:{seed}:{i}")
        size = 3000 + 1000 * ((i // 3) % 4)   # 3-6 KB of prose
        text = makers[i % 3](rng, _lang(i), size)
        rows.append((f"doc_{i:07d}", 0, "user", text, None))
    return _frame(rows)


# --- job_chat: short agent-transcript turns ----------------------------------

_TOOLS = ("search", "fetch_page", "calculator", "sql_query", "weather")
CHAT_CONV_LEN = 12


def _tool_output(rng: random.Random, lang: str, size: int) -> str:
    """A JSON tool result of about ``size`` characters."""
    words = _WORDS[lang]
    out = {"query": " ".join(rng.sample(words, 2)),
           "results": [{"title": " ".join(rng.sample(words, 3)), "snippet": ""}]}
    room = max(size - len(json.dumps(out, ensure_ascii=False)), 20)
    out["results"][0]["snippet"] = _prose(rng, lang, room)[:room]
    return json.dumps(out, ensure_ascii=False)


def job_chat(seed: int, n: int) -> pd.DataFrame:
    """Short turns (50-800 chars, about one chunk each), user/assistant/
    tool in turn; tool turns carry a JSON ``tool`` payload and a JSON
    result text. 1 in 100 turns is empty, 2 in 100 are OCR garbage."""
    rows = []
    for i in range(n):
        rng = random.Random(f"chat:{seed}:{i}")
        conv, turn = divmod(i, CHAT_CONV_LEN)
        role = ("user", "assistant", "tool")[turn % 3]
        lang = _lang(conv)
        size = (50, 120, 250, 400, 600, 780)[i % 6]
        tool = None
        if i % 100 == 37:
            text = ""
        elif i % 50 == 11:
            text = _garbage(rng, 12 + size // 12)
        elif role == "tool":
            text = _tool_output(rng, lang, size)
            tool = json.dumps({"tool": _TOOLS[i % len(_TOOLS)], "status": "ok",
                               "call_id": rng.randrange(10**9)})
        else:
            text = _prose(rng, lang, size)[: max(size, 50)]
        rows.append((f"chat_{conv:07d}", turn, role, text, tool))
    return _frame(rows)


# --- job_near_dedup: large-vocabulary chat with planted near-copies ---------

_SYLLABLES = [c + v for c in "bcdfglmnprstvz" for v in "aeiou"]
NEAR_COPY_EVERY = 4  # one turn in four imitates an earlier turn


def _vocab_word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randrange(2, 5)))


def job_near_dedup(seed: int, n: int) -> pd.DataFrame:
    """Chat turns (~40-90 words from a ~10⁷-word syllable vocabulary, so
    independent turns share no 3-word shingles); the last turn of every
    four is a near-copy of one of the three originals before it, with one
    or two words substituted. Every duplicate cluster is then one pair, so
    the connected-components rounds (the costly part) do not depend on
    the seed."""
    texts: list[str] = []
    rows = []
    for i in range(n):
        rng = random.Random(f"near:{seed}:{i}")
        if i % NEAR_COPY_EVERY == NEAR_COPY_EVERY - 1:
            words = texts[i - 1 - rng.randrange(NEAR_COPY_EVERY - 1)].split(" ")
            for _ in range(1 + i % 2):
                words[rng.randrange(len(words))] = _vocab_word(rng)
            text = " ".join(words)
        else:
            text = " ".join(_vocab_word(rng) for _ in range(40 + 10 * (i % 6)))
        texts.append(text)
        conv, turn = divmod(i, CHAT_CONV_LEN)
        rows.append((f"near_{conv:07d}", turn, ("user", "assistant")[turn % 2],
                     text, None))
    return _frame(rows)


GENERATORS = {
    "chunks_docs": chunks_docs,
    "job_chat": job_chat,
    "job_near_dedup": job_near_dedup,
}


def _frame(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = [BASE_TS + timedelta(seconds=i) for i in range(len(df))]
    return df


def write_input(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Store ``pdf`` as ``n_files`` parquet files of contiguous rows, so the
    scan plans one input split per file."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf[SCHEMA.names], schema=SCHEMA,
                                 preserve_index=False)
    step = -(-len(pdf) // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))
