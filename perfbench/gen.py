"""Seeded input generator for the benchmark.

Loan inputs are IBRD-shaped raw rows in the 33-column ``RAW_SCHEMA`` of
``tests/test_loan_pipeline.py``: a backfill split into pages, then hourly
increment pages that mix unchanged repeats, new loans, T1 edits (a
country's code changes) and T2 renames (a country's name changes while its
business key stays the same). Beside every page the generator derives the
clean rows it expects the pipeline to stage, from its own model of the
data rather than by re-running the pipeline's steps; the correctness
checks compare the program's outputs against those rows.

Corpus inputs are ``documents``-shaped rows (doc_id, text, lang, source,
n_chars) with planted exact duplicates, and a 2% benchmark split.

Everything is a pure function of the seed. ``prepare`` writes each seed's
files once under a cache directory and reuses them afterwards.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field

# the dictionaries are fixed; the seed only chooses rows and edits
_DICT_SEED = 20240630
N_COUNTRIES = 150
N_BORROWERS = 400
SNAPSHOT_YEARS = range(2011, 2025)
OFF_SNAPSHOT_SHARE = 0.07
MISSPELL_SHARE = 0.02
NULL_PROJECT_SHARE = 0.10
NULL_BORROWER_SHARE = 0.03
NULL_GUARANTOR_SHARE = 0.40
T2_RENAMES_PER_INCREMENT = 2
T1_EDITS_PER_INCREMENT = 2
REPEAT_SHARE = 0.6  # share of an increment page that re-sends old rows

REGIONS = [
    ("AFRICA", "africa"),
    ("EAST ASIA AND PACIFIC", "east asia and pacific"),
    ("EUROPE AND CENTRAL ASIA", "europe and central asia"),
    ("LATIN AMERICA AND CARIBBEAN", "latin america and caribbean"),
    ("MIDDLE EAST AND NORTH AFRICA", "middle east and north africa"),
    ("SOUTH ASIA", "south asia"),
    ("OTHER", "other"),
]
# raw -> standardized; the pipeline lowercases first, so maps key on lowercase
REGION_RECODES = {"africa": "eastern and southern africa", "other": "global"}
STATUSES = [
    "Fully Repaid", "Repaying", "Disbursing", "Approved", "Signed",
    "Effective", "Cancelled", "Terminated", "Fully Disbursed",
    "Disbursing&Repaying",
]
STATUS_RECODES = {"fully repaid": "repaid", "disbursing&repaying": "disbursing and repaying"}
LOAN_TYPES = ["FSL", "SCL", "CPL", "NPL", "POOL LOAN", "SCPD", "SCPM", "SCP USD"]
TYPE_RECODES = {
    "fsl": "fixed spread loan", "scl": "single currency loan",
    "cpl": "currency pool loan", "npl": "non-pool loan",
}
NOT_SPECIFIED = "not_specified"

_SYLLABLES = [
    "ka", "lo", "ma", "ri", "ta", "ne", "so", "vi", "ba", "du", "ge", "ho",
    "ja", "ku", "le", "mo", "nu", "pa", "ro", "sa", "te", "wu", "za", "bri",
    "dra", "fen", "gor", "lin", "mar", "tor",
]
WORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with", "data", "spark",
    "query", "table", "scan", "join", "merge", "window", "batch", "stream",
    "column", "vector", "filter", "group", "order", "hash", "sort", "key",
    "value", "row", "line", "part", "customer", "loan", "bank", "country",
    "region", "status", "amount", "rate", "project", "borrower", "world",
    "report", "visual", "measure", "fact", "dimension", "snapshot", "page",
    "offset", "schema", "parquet", "shuffle", "stage", "task", "driver",
    "executor", "memory", "disk", "cache", "plan",
]
LANGS = ["en", "de", "es", "fr", "zh"]


@dataclass(frozen=True)
class Country:
    name: str  # proper case, as the API sends it
    code: str
    region: int
    misspelling: str


@dataclass(frozen=True)
class Universe:
    """The fixed dictionaries and the maps the pipeline is called with."""

    countries: tuple
    borrowers: tuple
    maps: dict = field(hash=False)
    bk_maps: dict = field(hash=False)


def _title(word: str) -> str:
    return word[:1].upper() + word[1:]


def _misspell(name: str) -> str:
    i = len(name) // 2
    return name[: i - 1] + name[i] + name[i - 1] + name[i + 1 :]


def renamed(name: str) -> str:
    """The new name a T2 rename gives a country."""
    return f"Republic of {name}"


def recoded_code(code: str, increment: int) -> str:
    """The new code a T1 edit gives a country."""
    return f"{code}{increment}"


def universe() -> Universe:
    rng = random.Random(_DICT_SEED)
    names: list[str] = []
    while len(names) < N_COUNTRIES:
        n = _title("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
        if n not in names and _misspell(n).lower() != n.lower():
            names.append(n)
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    countries = tuple(
        Country(n, letters[i // 26] + letters[i % 26], rng.randrange(len(REGIONS)),
                _misspell(n))
        for i, n in enumerate(names)
    )
    borrowers = tuple(
        f"{_title(rng.choice(['ministry of', 'agency for', 'bank of', 'fund for']))} "
        f"{_title(rng.choice(_SYLLABLES) + rng.choice(_SYLLABLES))} {i}"
        for i in range(N_BORROWERS)
    )
    # a third of the countries overwrite the borrower (pyspark_dag2.py:307-311)
    overwrite = {c.name.lower(): f"ministry of finance ({c.name.lower()})"
                 for c in countries[::3]}
    overwrite.update({renamed(c.name).lower(): f"ministry of finance ({c.name.lower()})"
                      for c in countries[::3]})
    maps = {
        "status": dict(STATUS_RECODES),
        "type": dict(TYPE_RECODES),
        "country": {c.misspelling.lower(): c.name.lower() for c in countries},
        "region": dict(REGION_RECODES),
        "borrower_by_country": overwrite,
    }
    # BK maps cover every cleaned value; a T2 rename keeps its business key
    country_bk = {c.name.lower(): i + 1 for i, c in enumerate(countries)}
    country_bk.update({renamed(c.name).lower(): i + 1 for i, c in enumerate(countries)})
    borrower_names = sorted({b.lower() for b in borrowers} | set(overwrite.values())
                            | {NOT_SPECIFIED})
    bk_maps = {
        "region": {std_region(i): i + 1 for i in range(len(REGIONS))},
        "country": country_bk,
        "guarantor": {NOT_SPECIFIED: 1000,
                      **{c.name.lower(): i + 1 for i, c in enumerate(countries)}},
        "borrower": {b: i + 1 for i, b in enumerate(borrower_names)},
        "loan_status": {std_status(i): i + 1 for i in range(len(STATUSES))},
        "loan_type": {std_type(i): i + 1 for i in range(len(LOAN_TYPES))},
    }
    return Universe(countries, borrowers, maps, bk_maps)


def std_region(i: int) -> str:
    raw = REGIONS[i][0].lower()
    return REGION_RECODES.get(raw, raw)


def std_status(i: int) -> str:
    raw = STATUSES[i].lower()
    return STATUS_RECODES.get(raw, raw)


def std_type(i: int) -> str:
    raw = LOAN_TYPES[i].lower()
    return TYPE_RECODES.get(raw, raw)


# --------------------------------------------------------------------------
# loan rows


@dataclass
class Loan:
    number: int
    country: int
    borrower: int | None
    guarantor: int | None
    status: int
    ltype: int
    project_name: str | None
    rate: float
    principal: float
    approved_year: int


def _new_loan(rng: random.Random, number: int, anchor: bool = False) -> Loan:
    project = " ".join(_title(rng.choice(WORDS[8:])) for _ in range(3))
    null_project = (not anchor) and rng.random() < NULL_PROJECT_SHARE
    return Loan(
        number=number,
        country=rng.randrange(N_COUNTRIES),
        borrower=None if rng.random() < NULL_BORROWER_SHARE else rng.randrange(N_BORROWERS),
        guarantor=None if rng.random() < NULL_GUARANTOR_SHARE else rng.randrange(N_COUNTRIES),
        status=rng.randrange(len(STATUSES)),
        ltype=rng.randrange(len(LOAN_TYPES)),
        project_name=None if null_project else project,
        rate=rng.randrange(5, 80) / 10,
        principal=float(rng.randrange(1, 5000) * 10_000),
        approved_year=rng.randrange(1990, 2011),
    )


@dataclass
class CountryState:
    """Per-country name and code as of some increment."""

    names: dict = field(default_factory=dict)   # country idx -> current name
    codes: dict = field(default_factory=dict)   # country idx -> current code


def _raw_row(u: Universe, st: CountryState, loan: Loan, year: int, off_snapshot: bool,
             misspell: bool) -> tuple:
    c = u.countries[loan.country]
    name = st.names.get(loan.country, c.name)
    if misspell and name == c.name:
        name = c.misspelling
    code = st.codes.get(loan.country, c.code)
    g = u.countries[loan.guarantor] if loan.guarantor is not None else None
    period = f"{'15-Aug' if off_snapshot else '30-Jun'}-{year}"
    p = loan.principal
    disbursed = float(int(p * min(1.0, (year - 2009) / 12)))
    cancelled = float(int(p * 0.05)) if loan.status == 6 else 0.0
    undisbursed = p - disbursed - cancelled
    repaid_ibrd = float(int(disbursed * 0.3))
    # a pure function of (loan, year): a repeated row is re-sent unchanged
    repaid_3p = float((loan.number * 31 + year) % 50 * 100)
    due_ibrd = float(int(disbursed * 0.4))
    due_3p = float((loan.number * 17 + year) % 20 * 100)
    return (
        period, f"IBRD{loan.number:05d}", REGIONS[c.region][0], code, name,
        u.borrowers[loan.borrower] if loan.borrower is not None else None,
        g.code if g else None, g.name if g else None,
        LOAN_TYPES[loan.ltype], STATUSES[loan.status], loan.rate, "USD",
        f"P{loan.number:06d}", loan.project_name, p, cancelled, undisbursed,
        disbursed, repaid_ibrd, due_ibrd, 0.0, disbursed - repaid_ibrd,
        0.0, repaid_3p, due_3p, 0.0,
        f"01-Jan-{loan.approved_year + 5}", f"01-Jan-{loan.approved_year + 30}",
        f"01-Feb-{loan.approved_year}", f"15-Mar-{loan.approved_year}",
        None, None, None,
    )


def _clean_rows(u: Universe, raw: list[tuple]) -> list[dict]:
    """The staging rows the pipeline should produce from one cleaning call
    over `raw`, derived from the generator's model: canonical names,
    recodes, the borrower overwrite, null fills, business keys, the
    project-name forward fill in loan-number order, and the derived sums."""
    by_name = {c.name.lower(): (i, c) for i, c in enumerate(u.countries)}
    by_name.update({c.misspelling.lower(): (i, c) for i, c in enumerate(u.countries)})
    overwrite = u.maps["borrower_by_country"]
    out = []
    for r in raw:
        if not r[0].startswith("30-Jun-"):
            continue
        country = r[4].lower()
        if country in by_name:
            country = by_name[country][1].name.lower()
        borrower = overwrite.get(country, r[5].lower() if r[5] else NOT_SPECIFIED)
        guarantor = r[7].lower() if r[7] else NOT_SPECIFIED
        region_i = [x[0] for x in REGIONS].index(r[2])
        status_i, type_i = STATUSES.index(r[9]), LOAN_TYPES.index(r[8])
        out.append({
            "loan_number": r[1].lower(), "year": int(r[0][-4:]),
            "region": std_region(region_i), "country": country,
            "country_code": r[3].lower(), "borrower": borrower,
            "guarantor": guarantor, "loan_status": std_status(status_i),
            "loan_type": std_type(type_i), "project_id": r[12].lower(),
            "project_name_": r[13].lower() if r[13] else None,
            "region_bk": u.bk_maps["region"][std_region(region_i)],
            "country_bk": u.bk_maps["country"][country],
            "borrower_bk": u.bk_maps["borrower"][borrower],
            "guarantor_bk": u.bk_maps["guarantor"][guarantor],
            "loan_status_bk": u.bk_maps["loan_status"][std_status(status_i)],
            "loan_type_bk": u.bk_maps["loan_type"][std_type(type_i)],
            "interest_rate": r[10], "original_principal_amount": r[14],
            "undisbursed_amount": r[16], "disbursed_amount": r[17],
            "repaid": r[18] + r[23], "due": r[19] + r[24],
        })
    carry = None
    for row in sorted(out, key=lambda x: x["loan_number"]):
        if row["project_name_"] is None:
            row["project_name_"] = carry
        else:
            carry = row["project_name_"]
    return out


@dataclass
class LoanPlan:
    backfill_pages: list      # list[list[raw row]]
    increment_pages: list     # list[list[raw row]]
    backfill_clean: list      # list[dict], one cleaning call over all backfill pages
    increment_clean: list     # list[list[dict]], one cleaning call per increment
    t2_renames: list          # per increment: country idxs renamed
    t1_edits: list            # per increment: country idxs whose code changed


def loan_plan(seed: int, backfill_pages: int, increments: int, page_rows: int) -> LoanPlan:
    """The backfill and the increments for one seed. Loan 0 leads every page
    with a named project, so the forward fill never starts from a null."""
    u = universe()
    rng = random.Random(seed)
    st = CountryState()
    anchor = _new_loan(rng, 0, anchor=True)
    loans = [anchor]
    spec: list[tuple] = []  # (loan idx, year, off_snapshot, misspell)
    target = backfill_pages * page_rows
    while len(spec) < target:
        loan = _new_loan(rng, len(loans))
        loans.append(loan)
        for year in rng.sample(list(SNAPSHOT_YEARS), rng.randint(3, 10)):
            spec.append((loan.number, year, rng.random() < OFF_SNAPSHOT_SHARE,
                         rng.random() < MISSPELL_SHARE))
    spec = spec[: target - backfill_pages]
    pages_spec = []
    per = page_rows - 1
    for p in range(backfill_pages):
        pages_spec.append([(0, 2011 + p, False, False)] + spec[p * per:(p + 1) * per])

    def render(page_spec):
        return [_raw_row(u, st, loans[n], y, off, ms) for n, y, off, ms in page_spec]

    backfill = [render(ps) for ps in pages_spec]
    old_spec = [s for ps in pages_spec for s in ps]
    incr_pages, t2s, t1s = [], [], []
    for k in range(1, increments + 1):
        n_repeat = int(page_rows * REPEAT_SHARE)
        page_spec = [(0, 2011 + backfill_pages % 14, False, False)]
        page_spec += rng.sample(old_spec, n_repeat)
        while len(page_spec) < page_rows:
            loan = _new_loan(rng, len(loans))
            loans.append(loan)
            for year in rng.sample(list(SNAPSHOT_YEARS), rng.randint(3, 10)):
                page_spec.append((loan.number, year, rng.random() < OFF_SNAPSHOT_SHARE,
                                  rng.random() < MISSPELL_SHARE))
        page_spec = page_spec[:page_rows]
        # edits target countries with staged rows on this page, so every
        # issued edit reaches the merge
        present = sorted({loans[n].country for n, _y, off, _m in page_spec if not off}
                         - set(st.names))
        chosen = rng.sample(present, T2_RENAMES_PER_INCREMENT + T1_EDITS_PER_INCREMENT)
        t2, t1 = chosen[:T2_RENAMES_PER_INCREMENT], chosen[T2_RENAMES_PER_INCREMENT:]
        for c in t2:
            st.names[c] = renamed(u.countries[c].name)
        for c in t1:
            st.codes[c] = recoded_code(st.codes.get(c, u.countries[c].code), k)
        incr_pages.append(render(page_spec))
        old_spec.extend(page_spec)
        t2s.append(t2)
        t1s.append(t1)
    return LoanPlan(
        backfill_pages=backfill,
        increment_pages=incr_pages,
        backfill_clean=_clean_rows(u, [r for p in backfill for r in p]),
        increment_clean=[_clean_rows(u, p) for p in incr_pages],
        t2_renames=t2s,
        t1_edits=t1s,
    )


def raw_field_names() -> list[str]:
    from tests.test_loan_pipeline import RAW_SCHEMA

    return [f.name for f in RAW_SCHEMA.fields]


def raw_schema_ddl() -> str:
    from tests.test_loan_pipeline import RAW_SCHEMA

    return RAW_SCHEMA.simpleString()[len("struct<"):-1].replace(":", " ")


def _write_jsonl(path: str, fields: list[str], rows: list[tuple]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(dict(zip(fields, r))) + "\n")


def _write_json_array(path: str, fields: list[str], rows: list[tuple]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump([dict(zip(fields, r)) for r in rows], fh)


# --------------------------------------------------------------------------
# corpus documents


def corpus(seed: int, n_docs: int, dup_share: float = 0.05,
           bench_share: float = 0.02) -> tuple[list[tuple], list[int], list[tuple]]:
    """(docs, bench doc ids, exact-duplicate id pairs). Every doc passes the
    Gopher word-count and stopword rules except a seeded ~5% short tail."""
    rng = random.Random(seed * 7919 + 1)
    docs: list[tuple] = []
    dups: list[tuple] = []
    for i in range(n_docs):
        if docs and rng.random() < dup_share:
            j = rng.randrange(len(docs))
            text = docs[j][1]
            dups.append((docs[j][0], i))
        else:
            n_words = rng.randint(10, 49) if rng.random() < 0.05 else rng.randint(50, 160)
            text = " ".join(rng.choice(WORDS) for _ in range(n_words))
        docs.append((i, text, rng.choice(LANGS), f"src{rng.randrange(8)}", len(text)))
    bench = sorted(rng.sample(range(n_docs), max(1, int(n_docs * bench_share))))
    return docs, bench, dups


# --------------------------------------------------------------------------
# cache layout


@dataclass
class LoanInputs:
    root: str
    plan: LoanPlan
    n_backfill_pages: int
    page_rows: int

    @property
    def jsonl_dir(self) -> str:
        return os.path.join(self.root, "jsonl")

    @property
    def json_dir(self) -> str:
        return os.path.join(self.root, "json")

    def json_page_offset(self, k: int) -> int:
        """Fetch cursor of increment k (1-based): increments continue the
        backfill's row numbering."""
        return (self.n_backfill_pages + k - 1) * self.page_rows


def prepare_loans(cache_root: str, seed: int, *, backfill_pages: int, increments: int,
                  page_rows: int) -> LoanInputs:
    """Write (once per seed and size) the backfill pages as `page-N.jsonl`
    for `rest_datasource.read_pages` and the increment pages as JSON-array
    files for `paged_source.http_json_page_fetcher`. The plan itself is
    rebuilt in memory each time: it is cheap and holds the expected rows."""
    tag = f"loans-seed{seed}-b{backfill_pages}-i{increments}-r{page_rows}"
    plan = loan_plan(seed, backfill_pages, increments, page_rows)
    inputs = LoanInputs(os.path.join(cache_root, tag), plan, backfill_pages, page_rows)
    done = os.path.join(inputs.root, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(inputs.root, ignore_errors=True)
        os.makedirs(inputs.jsonl_dir)
        os.makedirs(inputs.json_dir)
        fields = raw_field_names()
        for i, rows in enumerate(plan.backfill_pages):
            _write_jsonl(os.path.join(inputs.jsonl_dir, f"page-{i}.jsonl"), fields, rows)
        for k, rows in enumerate(plan.increment_pages, start=1):
            _write_json_array(
                os.path.join(inputs.json_dir, f"page-{inputs.json_page_offset(k)}.json"),
                fields, rows)
        with open(done, "w", encoding="utf-8") as fh:
            fh.write(tag + "\n")
    return inputs


@dataclass
class CorpusInputs:
    docs_path: str
    bench_ids: list
    dups: list


def prepare_corpus(cache_root: str, seed: int, n_docs: int) -> CorpusInputs:
    """Write (once per seed and size) the corpus documents as parquet."""
    docs, bench, dups = corpus(seed, n_docs)
    path = os.path.join(cache_root, f"corpus-seed{seed}-n{n_docs}.parquet")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(cache_root, exist_ok=True)
        cols = list(zip(*docs))
        table = pa.table({
            "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1]),
            "lang": pa.array(cols[2]), "source": pa.array(cols[3]),
            "n_chars": pa.array(cols[4], pa.int64()),
        })
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return CorpusInputs(path, bench, dups)
