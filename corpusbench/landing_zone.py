"""Seeded landing-zone generator for the corpus-build benchmark.

Writes court rulings in the scraper layout the package ingests: per
ruling ``<root>/<spider>/<name>.json`` metadata plus an ``.html``
payload (even ids) or a FlateDecode ``.pdf`` payload (odd ids).  The
text is marker-structured (header with the bench composition, parties,
facts, considerations citing BGE/ATF/DTF, rulings with an outcome,
footer) in German, French or Italian.  Text lengths are log-normal,
mean about 10 KB, capped at 100 KB.

Deliberately self-contained: it imports nothing from the package, so
a change to the package's own fixtures or ingest helpers cannot change
the benchmark's inputs.  The same seed gives a byte-identical tree.

Ground truth (spider, language, outcome, president, cited BGE
(year, page) pairs, new-or-base) is returned to the caller and kept
outside the landing zone.
"""

from __future__ import annotations

import html
import json
import math
import os
import random
import zlib
from dataclasses import dataclass

SPIDERS = ("CH_BGer", "ZH_VG", "VD_TC", "TI_TA")


@dataclass(frozen=True)
class Traffic:
    """The shape of the rulings mix.  Only the mean text length (10 KB),
    its cap (100 KB), the four spiders, the three languages and the
    html/pdf split are fixed by the benchmark's specification; every
    other number here is an assumption, not a measurement of the real
    corpus.  Their one public anchor: the federal court's rulings are
    mostly German, about a third French and a small share Italian
    (Niklaus et al., "Swiss-Judgment-Prediction: A Multilingual Legal
    Judgment Prediction Benchmark", 2021).  ``run.py --traffic`` builds
    with the other profiles below; METRICS.md records how much
    the wall throughput moves with them."""

    # spider shares, in the order of SPIDERS
    spider_weights: tuple = (0.4, 0.25, 0.2, 0.15)
    # the federal court publishes in all three languages; the cantonal
    # courts in the language of their canton
    federal_langs: tuple = (("de", 0.6), ("fr", 0.3), ("it", 0.1))
    # log-normal sigma of the text length (the mean stays fixed)
    sigma: float = 0.8
    # BGE citations per ruling, inclusive range
    cites: tuple = (1, 3)

    def langs(self, spider: str) -> tuple:
        return {
            "CH_BGer": self.federal_langs,
            "ZH_VG": (("de", 1.0),),
            "VD_TC": (("fr", 1.0),),
            "TI_TA": (("it", 1.0),),
        }[spider]


TRAFFIC = {
    "default": Traffic(),
    # every spider and every federal language equally likely
    "uniform": Traffic(spider_weights=(0.25,) * 4,
                       federal_langs=(("de", 1 / 3), ("fr", 1 / 3), ("it", 1 / 3))),
    # lengths close to the mean, one citation each
    "narrow": Traffic(sigma=0.3, cites=(1, 1)),
    # a long length tail (more rulings at the cap), up to six citations
    "wide": Traffic(sigma=1.2, cites=(1, 6)),
}

OUTCOMES = {
    "de": ("approval", "partial_approval", "dismissal", "inadmissible", "write_off"),
    "fr": ("approval", "dismissal", "inadmissible"),
    "it": ("approval", "dismissal"),
}
# binary label of a single outcome, as the judgment dataset defines it
BINARY_LABEL = {
    "approval": "approval",
    "partial_approval": "approval",
    "dismissal": "dismissal",
    "inadmissible": None,
    "write_off": None,
}

MEAN_TEXT_BYTES = 10_000
MAX_TEXT_BYTES = 100_000

_SURNAMES = (
    "Aemisegger", "Bernasconi", "Chaix", "Donzallaz", "Eusebio", "Fonjallaz",
    "Glanzmann", "Haag", "Jametti", "Kneubühler", "Lüthi", "Merz",
    "Niquille", "Oberholzer", "Pfiffner", "Rüedi", "Seiler", "Truttmann",
    "Viscione", "Wirthlin", "Zünd", "Moser", "Favre", "Rossi",
)
_COUNTERPARTIES = ("Müller", "Dubois", "Colombo", "Brunner", "Girard", "Ferrari")

_HEADER = {
    "de": (
        "Urteil vom {day}. {month} {year}",
        "Besetzung: Bundesrichter {president}, Präsident, "
        "Bundesrichterin {judge2}, Gerichtsschreiberin {clerk}.",
        "Verfahrensbeteiligte {party} AG, vertreten durch Rechtsanwalt "
        "{counsel}, Beschwerdeführerin, gegen {other}, Beschwerdegegner.",
        "Gegenstand Verwaltungsverfahren, Beschwerde gegen das Urteil "
        "der Vorinstanz vom {day}. {month} {prev}.",
    ),
    "fr": (
        "Arrêt du {day} {month} {year}",
        "Composition: juge {president}, président, juge {judge2}, "
        "greffière {clerk}.",
        "Participants à la procédure {party} SA, représentée par "
        "{counsel}, recourante, contre {other}, intimé.",
        "Objet procédure administrative, recours contre l'arrêt de "
        "l'autorité précédente du {day} {month} {prev}.",
    ),
    "it": (
        "Sentenza del {day} {month} {year}",
        "Composizione: giudice {president}, presidente, giudice {judge2}, "
        "cancelliera {clerk}.",
        "Parti nel procedimento {party} SA, patrocinata da {counsel}, "
        "ricorrente, contro {other}, opponente.",
        "Oggetto procedura amministrativa, ricorso contro la sentenza "
        "dell'autorità inferiore del {day} {month} {prev}.",
    ),
}
_MONTHS = {
    "de": ("Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
           "August", "September", "Oktober", "November", "Dezember"),
    "fr": ("janvier", "février", "mars", "avril", "mai", "juin", "juillet",
           "août", "septembre", "octobre", "novembre", "décembre"),
    "it": ("gennaio", "febbraio", "marzo", "aprile", "maggio", "giugno",
           "luglio", "agosto", "settembre", "ottobre", "novembre", "dicembre"),
}
# section markers accepted by both the generic and the federal-court
# splitter tables
_FACTS = {"de": "Sachverhalt:", "fr": "Faits:", "it": "Fatti:"}
_CONSID = {"de": "Erwägungen:", "fr": "Considérant en droit:", "it": "Diritto:"}
_RULINGS = {
    "de": "Demnach erkennt das Bundesgericht:",
    "fr": "Par ces motifs, le Tribunal prononce:",
    "it": "Per questi motivi, il Tribunale pronuncia:",
}
_OUTCOME_TEXT = {
    ("de", "approval"): "Die Beschwerde wird gutgeheissen.",
    ("de", "partial_approval"): "Die Beschwerde wird teilweise gutgeheissen.",
    ("de", "dismissal"): "Die Beschwerde wird abgewiesen.",
    ("de", "inadmissible"): "Auf die Beschwerde wird nicht eingetreten.",
    ("de", "write_off"): "Das Verfahren wird abgeschrieben.",
    ("fr", "approval"): "Le recours est admis.",
    ("fr", "dismissal"): "Le recours est rejeté.",
    ("fr", "inadmissible"): "Le recours est irrecevable.",
    ("it", "approval"): "Il ricorso è accolto.",
    ("it", "dismissal"): "Il ricorso è respinto.",
}
_COSTS = {
    "de": "Die Gerichtskosten von {n} Franken werden der Partei auferlegt.",
    "fr": "Les frais judiciaires, arrêtés à {n} francs, sont mis à la charge de la partie.",
    "it": "Le spese giudiziarie di fr. {n} sono poste a carico della parte.",
}
_FOOTER = {
    "de": ("Rechtsmittelbelehrung",
           "Gegen diesen Entscheid kann innert 30 Tagen Beschwerde geführt werden."),
    "fr": ("Voie de recours",
           "Le présent arrêt peut faire l'objet d'un recours dans les 30 jours."),
    "it": ("Contro la presente decisione",
           "è dato ricorso entro 30 giorni dalla notificazione."),
}
_CITE = {"de": "BGE", "fr": "ATF", "it": "DTF"}
_VOLUMES = ("I", "II", "III", "IV", "V", "Ia")
# filler sentences: stopword-rich in their own language, free of
# section, outcome and citation markers, and of upper-case "ET"/"BT"
# (the PDF text-block delimiters)
_FILLER = {
    "de": (
        "Die Vorinstanz hat den Sachverhalt nicht offensichtlich unrichtig festgestellt.",
        "Der Beschwerdeführer macht geltend, die Behörde habe das rechtliche Gehör verletzt.",
        "Es ist nicht ersichtlich, inwiefern die Würdigung der Beweise willkürlich sein sollte.",
        "Das kantonale Gericht stützte sich auf das Gutachten und die Akten der Verwaltung.",
        "Die Partei reichte mit der Eingabe weitere Unterlagen und eine Stellungnahme ein.",
        "Nach der Rechtsprechung ist eine Begründung dann genügend, wenn die Tragweite erkennbar wird.",
        "Die Frist wurde mit der Zustellung der Verfügung an die Vertreterin ausgelöst.",
        "Der Sachverständige hat die Arbeitsfähigkeit in einer angepassten Tätigkeit bejaht.",
        "Die Gemeinde erteilte die Bewilligung unter der Auflage, die Zufahrt zu verbreitern.",
        "Mit Schreiben vom Frühjahr ersuchte die Partei um Akteneinsicht und «Fristerstreckung».",
        "Die Rüge ist nicht hinreichend substanziiert und wird deshalb nicht weiter geprüft.",
        "Das Gericht prüft die Anwendung des Bundesrechts von Amtes wegen und mit voller Kognition.",
    ),
    "fr": (
        "La cour cantonale a retenu que le recourant ne pouvait pas se prévaloir de la bonne foi.",
        "Le recourant soutient que les faits ont été établis de manière arbitraire par l'autorité.",
        "Il ne ressort pas du dossier que la partie a été empêchée de présenter ses moyens.",
        "La commune a délivré le permis de construire avec les charges usuelles et la réserve.",
        "Selon la jurisprudence, la motivation est suffisante lorsque la portée de la décision est claire.",
        "Le délai a commencé à courir avec la notification de la décision à la mandataire.",
        "L'expert a estimé que la capacité de travail est entière dans une activité adaptée.",
        "La partie a produit des pièces complémentaires avec sa réplique et une «note» explicative.",
        "Le grief n'est pas motivé de manière suffisante et ne peut pas être examiné plus avant.",
        "La cour examine librement l'application du droit fédéral et ne se limite pas aux griefs.",
        "Le bail a été résilié pour la fin du mois et la locataire a contesté la validité du congé.",
        "Les frais de la procédure cantonale sont fixés selon le tarif et la valeur litigieuse.",
    ),
    "it": (
        "La corte cantonale ha ritenuto che il ricorrente non sia legittimato per questa ragione.",
        "Il ricorrente sostiene che i fatti sono stati accertati in modo arbitrario dall'autorità.",
        "Dagli atti non risulta che la parte sia stata impedita di presentare le sue prove.",
        "Il municipio ha rilasciato la licenza edilizia con le condizioni usuali per il fondo.",
        "Secondo la giurisprudenza la motivazione è sufficiente se la portata della decisione è chiara.",
        "Il termine ha iniziato a decorrere con la notifica della decisione alla patrocinatrice.",
        "Il perito ha ritenuto che la capacità lavorativa è piena in una attività adeguata.",
        "La parte ha prodotto altri documenti con la replica e una «nota» esplicativa per il giudice.",
        "La censura non è motivata in modo sufficiente e non può essere esaminata oltre.",
        "Il giudice esamina d'ufficio l'applicazione del diritto federale con piena cognizione.",
        "Il contratto di locazione è stato disdetto per la fine del mese e non sono emerse obiezioni.",
        "Le spese della procedura cantonale sono fissate secondo la tariffa e il valore di lite.",
    ),
}


def _pick(rng: random.Random, options, weights=None):
    return rng.choices(options, weights=weights, k=1)[0]


def _ruling(doc_id: int, rng: random.Random, traffic: Traffic) -> tuple[dict, str, dict]:
    """One ruling: (truth, text, metadata).  Draws from ``rng`` only,
    in a fixed order, so the tree depends on the seed alone."""
    spider = _pick(rng, SPIDERS, traffic.spider_weights)
    langs = traffic.langs(spider)
    lang = _pick(rng, [l for l, _ in langs], [w for _, w in langs])
    outcome = _pick(rng, OUTCOMES[lang])
    president, judge2, clerk = rng.sample(_SURNAMES, 3)
    year = rng.randrange(2000, 2024)
    day = rng.randrange(1, 29)
    month = rng.randrange(12)
    n_cites = rng.randint(*traffic.cites)
    cited = sorted({(rng.randrange(100, 150), rng.randrange(1, 700)) for _ in range(n_cites)})
    mu = math.log(MEAN_TEXT_BYTES) - traffic.sigma**2 / 2
    target = min(MAX_TEXT_BYTES, max(1500, int(rng.lognormvariate(mu, traffic.sigma))))

    m = _MONTHS[lang][month]
    head = [
        line.format(
            day=day, month=m, year=year, prev=year - 1, president=president,
            judge2=judge2, clerk=clerk, party=f"Partei{doc_id}",
            counsel=_pick(rng, _SURNAMES), other=_pick(rng, _COUNTERPARTIES),
        )
        for line in _HEADER[lang]
    ]
    rulings = [
        _RULINGS[lang],
        f"1. {_OUTCOME_TEXT[(lang, outcome)]}",
        "2. " + _COSTS[lang].format(n=500 * rng.randrange(1, 9)),
        "",
        *_FOOTER[lang],
    ]
    cite = _CITE[lang]
    cite_lines = [
        f"{i + 1}. {cite} {y} {_pick(rng, _VOLUMES)} {p} E. {rng.randrange(1, 9)}."
        for i, (y, p) in enumerate(cited)
    ]
    fixed = sum(len(s) + 1 for s in head + rulings + cite_lines) + 40
    budget = max(0, target - fixed)
    facts = _paragraphs(rng, lang, int(budget * 0.4))
    consid = _paragraphs(rng, lang, budget - int(budget * 0.4))
    # spread the citations over the considerations
    for i, line in enumerate(cite_lines):
        consid.insert(min(len(consid), i * (len(consid) // len(cite_lines) + 1)), line)
    text = "\n".join([*head, "", _FACTS[lang], *facts, "", _CONSID[lang], *consid, "", *rulings])
    name = f"{spider}_{doc_id:06d}"
    meta = {
        "Signatur": f"{spider}.{doc_id:06d}",
        "Num": f"{rng.randrange(1, 10)}C_{doc_id}/{year}",
        "Datum": f"{year}-{month + 1:02d}-{day:02d}",
        "Abteilung": f"{spider}_00{rng.randrange(1, 3)}",
        "HTML": {"URL": f"https://example.invalid/{name}.html"} if doc_id % 2 == 0 else None,
        "PDF": {"URL": f"https://example.invalid/{name}.pdf"} if doc_id % 2 == 1 else None,
    }
    truth = {
        "name": name,
        "spider": spider,
        "language": lang,
        "outcome": outcome,
        "label": BINARY_LABEL[outcome],
        "president": president,
        "cited": [list(c) for c in cited],
        "format": "html" if doc_id % 2 == 0 else "pdf",
    }
    return truth, text, meta


def _paragraphs(rng: random.Random, lang: str, budget: int) -> list[str]:
    out: list[str] = []
    used = 0
    pool = _FILLER[lang]
    while used < budget or not out:
        para = " ".join(rng.choice(pool) for _ in range(rng.randrange(2, 6)))
        out.append(para)
        used += len(para) + 1
    return out


def html_payload(spider: str, text: str) -> bytes:
    paras = "".join(f"<p>{html.escape(ln)}</p>" for ln in text.split("\n") if ln)
    body = f'<div class="content">{paras}</div>'
    if spider == "CH_BGer":
        # the federal court's content rule must drop this footer
        body += '<div class="footer">Impressum</div>'
    return f"<!DOCTYPE html><html><body>{body}</body></html>".encode("utf-8")


def _pdf_literal(line: str) -> str:
    out = []
    for ch in line:
        o = ord(ch)
        if ch in "()\\":
            out.append("\\" + ch)
        elif 32 <= o < 127:
            out.append(ch)
        elif o < 256:
            out.append("\\%03o" % o)
        else:
            raise ValueError(f"not latin-1: {ch!r}")
    return "".join(out)


def pdf_payload(text: str) -> bytes:
    body = "BT /F1 10 Tf 50 780 Td " + " ".join(
        f"({_pdf_literal(ln)}) Tj 0 -12 Td" for ln in text.split("\n")
    ) + " ET"
    stream = zlib.compress(body.encode("latin-1"), 6)
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + stream
        + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )


def write_landing_zone(
    root: str, seed: int, n_docs: int, first_id: int = 0, traffic: Traffic = TRAFFIC["default"],
) -> list[dict]:
    """Write rulings ``first_id .. first_id + n_docs - 1`` under ``root``
    and return their ground truth.  Each ruling draws from its own
    generator seeded by (seed, id), so a ruling's files do not depend
    on how many others are written with it."""
    truths = []
    for doc_id in range(first_id, first_id + n_docs):
        rng = random.Random(f"{seed}:{doc_id}")
        truth, text, meta = _ruling(doc_id, rng, traffic)
        d = os.path.join(root, truth["spider"])
        os.makedirs(d, exist_ok=True)
        stem = os.path.join(d, truth["name"])
        with open(stem + ".json", "w", encoding="utf-8") as fh:
            json.dump(meta, fh, sort_keys=True, ensure_ascii=False)
        if truth["format"] == "html":
            payload, ext = html_payload(truth["spider"], text), ".html"
        else:
            payload, ext = pdf_payload(text), ".pdf"
        with open(stem + ext, "wb") as fh:
            fh.write(payload)
        truth["text_bytes"] = len(text.encode("utf-8"))
        truths.append(truth)
    return truths


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
