"""Seeded workload inputs: document corpora, the stream's arrival
schedule, and the row counts each input must produce.

Documents are drawn from the ``tests/fixtures.py`` shapes, which cover
the four reference forms with their omitted-section variants. The seed
picks each document's template, drops optional sections, and places the
malformed files (about 1 in 97). The program only ever sees the files
written here.

Expected row counts are computed in plain Python from the documents and
the form specs' declared grain (explode / flatten / root / required),
without Spark, so a wrong count from the engine cannot hide in its own
oracle.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import random
from dataclasses import dataclass

from etl_sample_spark.normalize import TableSpec
from etl_sample_spark.pipeline import FORMS
from tests.fixtures import ACTION_DOCS, BANK_DOCS, COMBINED_DOCS, CREDIT_DOCS

MALFORMED_EVERY = 97
MALFORMED_TEXT = '{"SalesforceID": "broken", '

# form -> (filename suffix, templates)
_TEMPLATES = {
    "bank_scrape": ("_bank_scrape.json", list(BANK_DOCS.values())),
    "credit_report": ("_credit_report.json", list(CREDIT_DOCS.values())),
    "action": ("_action.json", list(ACTION_DOCS.values())),
    "combined": (".json", list(COMBINED_DOCS.values())),
}
# Top-level sections a combined document may lack (FIXTURES.md variants).
_OPTIONAL = {
    "combined": ("BankScrapeData", "CustomerInformation", "CreditReportData", "Recommendations"),
    "bank_scrape": ("contacts",),
    "credit_report": (),
    "action": (),
}


@dataclass(frozen=True)
class Doc:
    name: str  # file name, which carries the route suffix
    form: str
    body: dict | None  # None: the file is malformed
    text: str  # exact file contents


def _make_doc(rng: random.Random, form: str, stem: str, malformed: bool) -> Doc:
    suffix, templates = _TEMPLATES[form]
    name = stem + suffix
    if malformed:
        return Doc(name, form, None, MALFORMED_TEXT)
    body = copy.deepcopy(rng.choice(templates))
    for section in _OPTIONAL[form]:
        if section in body and rng.random() < 0.2:
            del body[section]
    if form == "combined":
        # A unique id per file, so a document committed twice shows as a
        # duplicate key in master_table.
        body["SalesforceID"] = stem
    return Doc(name, form, body, json.dumps(body, sort_keys=True))


def batch_corpus(seed: int, n_docs: int) -> list[Doc]:
    """``n_docs`` one-document files over all four forms."""
    rng = random.Random(f"batch-{seed}")
    forms = list(_TEMPLATES)
    bad = set(rng.sample(range(n_docs), max(1, n_docs // MALFORMED_EVERY)))
    docs = []
    for i in range(n_docs):
        # Every form appears at least once, so each call runs all four routes.
        form = forms[i] if i < len(forms) else rng.choice(forms)
        stem = f"D{i:05d}{rng.getrandbits(24):06x}"
        docs.append(_make_doc(rng, form, stem, i in bad))
    return docs


def stream_schedule(seed: int, n_files: int, rate: float) -> list[tuple[float, Doc]]:
    """Combined-form files due at a fixed rate: (seconds after start, doc)."""
    rng = random.Random(f"stream-{seed}")
    docs = []
    for i in range(n_files):
        stem = f"S{i:05d}{rng.getrandbits(24):06x}"
        malformed = rng.randrange(MALFORMED_EVERY) == 0
        docs.append((i / rate, _make_doc(rng, "combined", stem, malformed)))
    return docs


def write_docs(docs: list[Doc], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for doc in docs:
        with open(os.path.join(directory, doc.name), "w") as f:
            f.write(doc.text)


def digest(items) -> str:
    """sha256 over a corpus or schedule, for the determinism test."""
    h = hashlib.sha256()
    for item in items:
        due, doc = item if isinstance(item, tuple) else (None, item)
        h.update(repr((due, doc.name, doc.text)).encode())
    return h.hexdigest()


# --- expected rows ------------------------------------------------------


def _get(value, path: str):
    """Follow a spec path such as ``TU_FFR_Report[0].Trades`` through
    parsed JSON; missing keys, nulls and out-of-range indexes give None."""
    for part in path.split("."):
        if value is None:
            return None
        key, _, idx = part.partition("[")
        value = value.get(key) if isinstance(value, dict) else None
        if idx:
            i = int(idx.rstrip("]"))
            value = value[i] if isinstance(value, list) and i < len(value) else None
    return value


def _spec_rows(doc: dict, spec: TableSpec) -> int:
    if spec.required:
        path, sep, rest = spec.required.partition(" IS NOT NULL")
        if rest or not sep:
            raise ValueError(f"unsupported required clause {spec.required!r}")
        if _get(doc, path) is None:
            return 0
    if spec.explode:
        items = [doc]
        for path, _alias in spec.explode:
            items = [x for item in items for x in (_get(item, path) or [])]
        return len(items)
    if spec.flatten:
        return int(_get(doc, spec.flatten) is not None)
    return 1


def expected_rows(docs: list[Doc]) -> dict[str, int]:
    """Rows per output table, plus ``__quarantined`` for malformed files."""
    out: dict[str, int] = {"__quarantined": 0}
    for doc in docs:
        if doc.body is None:
            out["__quarantined"] += 1
            continue
        for spec in FORMS[doc.form][1]():
            out[spec.name] = out.get(spec.name, 0) + _spec_rows(doc.body, spec)
    return out
