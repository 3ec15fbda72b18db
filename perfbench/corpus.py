"""Seeded corpus of one-document-per-file JSON for the ETL workloads.

The documents follow the four reference forms (bank_scrape, credit_report,
combined, action) in the shapes of ``tests/fixtures.py``: sections are
omitted at random, arrays are sometimes empty, optional fields are
sometimes absent, and 1% of files (at least one) are truncated
mid-document so the pipeline has to quarantine them.

The generator counts, for itself, how many rows every normalized table
should receive, so a benchmark run can check the written star schema
without trusting the program's own counters. The counting rules mirror the
table specs in ``etl_sample_spark.forms``: an exploded section contributes
one row per element (none when absent or empty), a flattened struct one row
when present, a root table one row per clean document.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

# Share of documents per form, in percent (bank/credit/combined/action).
FORM_MIX = {"bank_scrape": 40, "credit_report": 30, "combined": 25, "action": 5}
BANK_ONLY = {"bank_scrape": 100}
MALFORMED_RATE = 0.01

_SUFFIX = {
    "bank_scrape": "_bank_scrape.json",
    "credit_report": "_credit_report.json",
    "combined": ".json",
    "action": "_action.json",
}

# (table name, TU_FFR section, element factory) — the 12 credit child
# sections of ``forms.CREDIT_SECTIONS``.
_SECTIONS = (
    ("bankruptcy", "Bankruptcies", lambda r, j: {"CaseNumber": f"B{j}", "FiledDate": "2017-05-01", "Amount": round(r.uniform(100, 5000), 2)}),
    ("trades", "Trades", lambda r, j: {"TradeDate": "2019-01-01", "Balance": round(r.uniform(0, 9000), 2), "Status": r.choice(("OPEN", "CLOSED"))}),
    ("credit_details", "CreditSummaryDetails", lambda r, j: {"Category": r.choice(("revolving", "installment")), "Count": r.randint(0, 9)}),
    ("score_products", "ScoreProducts", lambda r, j: {"Product": "FICO", "Score": r.randint(300, 850)}),
    ("bankings", "Bankings", lambda r, j: {"Institution": f"Bank{j}", "AccountType": r.choice(("chequing", "savings"))}),
    ("employments", "Employments", lambda r, j: {"Employer": f"Employer{j}", "Occupation": "analyst"}),
    ("collections", "Collections", lambda r, j: {"Agency": "CollectCo", "Amount": round(r.uniform(10, 900), 2)}),
    ("inquiries", "Inquiries", lambda r, j: {"InquiryDate": "2019-03-01", "Subscriber": r.choice(("CardCo", "AutoCo"))}),
    ("legals", "Legals", lambda r, j: {"CourtName": "Provincial", "Amount": round(r.uniform(100, 2000), 2)}),
    ("consumer_statements", "ConsumerStatements", lambda r, j: {"Statement": "disputed"}),
    ("misc_statements", "MiscellaneousStatements", lambda r, j: {"Statement": "misc"}),
    ("reg_items", "RegisteredItems", lambda r, j: {"ItemType": "vehicle", "Description": "car loan"}),
)


@dataclass
class Corpus:
    """A generated corpus and the outcome a correct pipeline must produce."""

    root: str
    docs: int = 0
    malformed: int = 0
    bytes: int = 0
    forms: Counter = field(default_factory=Counter)
    # form -> table -> rows; the batch pipeline sums a table over forms.
    expected: dict[str, Counter] = field(default_factory=dict)

    def expected_tables(self) -> dict[str, int]:
        """Rows per output table, summed over the forms that write it."""
        out: Counter = Counter()
        for per_form in self.expected.values():
            out.update(per_form)
        return dict(out)


def _items(r: random.Random, make, lo: int, hi: int) -> list[dict]:
    return [make(r, j) for j in range(r.randint(lo, hi))]


def _account(r: random.Random, i: int, a: int, rows: Counter) -> dict:
    acct = {"account": f"{100000000 + i * 7 + a}", "balance": round(1000.5 + i + a, 2)}
    if r.random() < 0.9:
        acct["statistics"] = {
            "mean_closing_balance": round(r.uniform(0, 2000), 2),
            "mean_closing_balance_30": round(r.uniform(0, 2000), 2),
        }
    if r.random() < 0.85:  # absent transactions: the account still lands
        txns = [
            {
                "description": f"txn {t}",
                "amount": float((i + t) % 500 - 250),
                "date": "2019-10-01",
                "flags": ["posted"] if t % 2 else [],
            }
            for t in range(r.randint(0, 6))
        ]
        acct["transactions"] = txns
        rows["transactions"] += len(txns)
    rows["bank_account"] += 1
    return acct


def _bank_payload(r: random.Random, i: int, rows: Counter) -> dict:
    contacts = [
        {"contact_type": "email", "value": f"c{i}@example.com"},
        {"contact_type": "phone", "value": f"555-{i % 10000:04d}"},
        {"contact_type": "fax", "value": f"556-{i % 10000:04d}"},
    ][: r.randint(0, 3)]
    rows["misc_contact"] += len(contacts)
    return {
        "name": f"Customer {i}",
        "contacts": contacts,
        "accounts": [_account(r, i, a, rows) for a in range(r.randint(0, 3))],
    }


def _tu_report(r: random.Random, i: int, rows: Counter, skip_reg_items: bool) -> dict:
    rep: dict = {"Hit": r.choice(("Y", "N")), "Names": {"FirstName": f"Tu{i}", "LastName": "Names"}}
    if r.random() < 0.7:
        rep["OnFileDate"] = "2018-01-01"
    if r.random() < 0.85:
        rep["CreditSummary"] = {"TotalAccounts": r.randint(0, 20), "TotalBalance": round(r.uniform(0, 50000), 2)}
        rows["credit_summary"] += 1
    for table, section, make in _SECTIONS:
        if r.random() < 0.6:
            elems = _items(r, make, 0, 3)
            rep[section] = elems
            if not (skip_reg_items and table == "reg_items"):
                rows[table] += len(elems)
    return rep


def _bank_doc(r: random.Random, i: int, rows: Counter) -> dict:
    doc = _bank_payload(r, i, rows)
    doc["complete_datetime"] = f"2019-10-{1 + i % 28:02d} 12:30:00"
    rows["bank_scrape_info"] += 1
    return doc


def _credit_doc(r: random.Random, i: int, rows: Counter) -> dict:
    doc = {
        "Date": f"201910{1 + i % 28:02d}",
        "Time": "143000",
        "MemberCode": f"MC{i}",
        "ReportType": r.choice(("FULL", "LITE")),
    }
    if r.random() < 0.9:
        doc["TU_FFR_Report"] = [_tu_report(r, i, rows, skip_reg_items=False)]
        rows["base_credit"] += 1
    return doc


def _combined_doc(r: random.Random, i: int, rows: Counter) -> dict:
    doc: dict = {"SalesforceID": f"SF{i:06d}", "CreatedOnDate": f"2019-10-{1 + i % 28:02d} 10:00:00"}
    rows["master_table"] += 1
    if r.random() < 0.7:
        doc["CustomerInformation"] = {"FirstName": "Jane", "LastName": f"Doe{i}", "Email": f"j{i}@example.com"}
        rows["customer_info"] += 1
    if r.random() < 0.6:
        doc["BankScrapeData"] = _bank_payload(r, i, rows)
        rows["bank_scrape_info"] += 1
    if r.random() < 0.6:
        credit: dict = {"MemberCode": f"MC{i}", "ReportType": "FULL"}
        if r.random() < 0.9:
            credit["TU_FFR_Report"] = [_tu_report(r, i, rows, skip_reg_items=True)]
            rows["base_credit"] += 1
        doc["CreditReportData"] = credit
    if r.random() < 0.8:
        recs = [{"action": r.choice(("upsell", "review", "hold")), "priority": p} for p in range(r.randint(0, 3))]
        doc["Recommendations"] = recs
        rows["reccomendations"] += len(recs)
    return doc


def _action_doc(r: random.Random, i: int, rows: Counter) -> dict:
    rows["reccomendation_action"] += 1
    return {"action": r.choice(("call", "email")), "reason": "overdue", "created": "2019-10-03"}


_MAKERS = {
    "bank_scrape": _bank_doc,
    "credit_report": _credit_doc,
    "combined": _combined_doc,
    "action": _action_doc,
}

# Tables each form's spec list declares: the pipeline reports every one of
# them, zero-row tables included.
_FORM_TABLES = {
    "bank_scrape": ("bank_scrape_info", "misc_contact", "bank_account", "transactions"),
    "credit_report": ("base_credit", "credit_summary") + tuple(t for t, _, _ in _SECTIONS),
    "combined": (
        "master_table", "customer_info", "misc_contact", "bank_scrape_info", "bank_account",
        "transactions", "base_credit", "credit_summary", "reccomendations",
    ) + tuple(t for t, _, _ in _SECTIONS if t != "reg_items"),
    "action": ("reccomendation_action",),
}


def _form_sequence(r: random.Random, n_docs: int, mix: dict[str, int]) -> list[str]:
    """Each form's share of ``n_docs`` (largest remainders rounded up), in
    seeded random order, so every seed does the same amount of work."""
    exact = {form: n_docs * pct / sum(mix.values()) for form, pct in mix.items()}
    counts = {form: int(x) for form, x in exact.items()}
    for form in sorted(exact, key=lambda f: counts[f] - exact[f])[: n_docs - sum(counts.values())]:
        counts[form] += 1
    seq = [form for form, n in counts.items() for _ in range(n)]
    r.shuffle(seq)
    return seq


def write_corpus(root: str, seed: int, n_docs: int, mix: dict[str, int] = FORM_MIX) -> Corpus:
    """Write ``n_docs`` documents under ``root`` and return their expected
    outcome. The same arguments give byte-identical files."""
    r = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    corpus = Corpus(root=root)
    bad = set(r.sample(range(n_docs), max(1, round(n_docs * MALFORMED_RATE)))) if n_docs else set()
    for i, form in enumerate(_form_sequence(r, n_docs, mix)):
        rows: Counter = Counter()
        text = json.dumps(_MAKERS[form](r, i, rows))
        prefix = {"bank_scrape": "B", "credit_report": "C", "combined": "SF", "action": "A"}[form]
        name = f"{prefix}{seed}_{i:06d}{_SUFFIX[form]}"
        per_form = corpus.expected.setdefault(form, Counter({t: 0 for t in _FORM_TABLES[form]}))
        if i in bad:
            text = text[: len(text) // 2]
            corpus.malformed += 1
        else:
            per_form.update(rows)
        with open(os.path.join(root, name), "w") as f:
            f.write(text)
        corpus.docs += 1
        corpus.bytes += len(text)
        corpus.forms[form] += 1
    return corpus
