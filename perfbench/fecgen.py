"""Seeded synthetic FEC landing files for all 13 bulk prefixes.

``generate(seed, n_indiv)`` builds every table as lists of row dicts
(``None`` is an empty field, which the pipe-delimited reader loads as
NULL); ``write_landing`` writes them as ``<prefix>.txt`` in the column
order of ``data_spark.fec.schemas``. The same seed gives byte-identical
files (``landing_digest``).

Edge cases follow FIXTURES.md §1: ~5 % dangling committee/candidate
FKs, ``memo_cd`` rows, 9-digit / ``00000`` / empty / short zips,
MMDDYYYY dates with empty and broken (7-char, Feb-30) values,
``%d-%b-%y`` and empty independent-expenditure dates, exact duplicate
rows copied from indiv into oth, duplicate linkage rows, and
independent-expenditure amendment chains (``prev_file_num`` pointing at
an earlier filing, same ``tra_id``).

``expected_counts`` is a pure-Python mirror of the derivation layer's
row counts, so the benchmark can check ``run_derivations`` output
without trusting the program under test.

The shares behind these edge cases (transaction and entity types, memo
rows, broken dates and zips, dangling FKs) and the table sizes are the
correctness-fixture distribution, chosen to reach every branch of the
derivation layer. They are not measured from real FEC bulk files and
are not meant as representative traffic: e.g. about half of the
``indiv`` rows carry a disbursement-type ``transaction_tp`` and so fall
outside the view's individual arm.
"""

from __future__ import annotations

import calendar
import datetime
import hashlib
import os
import random
import re

from data_spark.fec import schemas

PREFIXES = list(schemas.BY_PREFIX)

_LAST = [
    "SMITH", "DOE", "O'BRIEN", "GARCIA", "NGUYEN", "JOHNSON", "LEE", "KING",
    "PATEL", "MILLER", "DAVIS", "LOPEZ", "WILSON", "MOORE", "TAYLOR", "CLARK",
]
_FIRST = [
    "JOHN", "JANE", "PAT", "MARIA", "ANN", "GEORGE", "SAM", "LINDA", "WEI",
    "CARLOS", "FATIMA", "OMAR", "RUTH", "ALEX",
]
_SUFFIX = ["", "", "", " MR", " MRS", " PHD", " JR", " III", " DR", " MD"]
_ORGS = ["ACME, INC", "ACME, LLC", "GLOBEX CORP", "INITECH", "UMBRELLA CO", "HOOLI"]
_STATES = ["CA", "TX", "NY", "VA", "GA", "WA", "FL", "IL", "OH", "MA"]
_ZIPS = ["945301234", "94530", "00000", None, "123", "0", "10001", "750011111"]
_TXN_TP = ["15", "15E", "22Y", "24I", "24T", "24K", "20", "20Y", "41", "10", "15C"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _person(rng: random.Random) -> str:
    return f"{rng.choice(_LAST)}, {rng.choice(_FIRST)}{rng.choice(_SUFFIX)}"


def _mmddyyyy(rng: random.Random) -> str | None:
    r = rng.random()
    if r < 0.04:
        return None
    if r < 0.06:
        return f"{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}202"  # 7-char, broken
    if r < 0.07:
        return "02302021"  # calendar-invalid
    y = rng.choice([2019, 2020, 2021, 2022])
    m = rng.randint(1, 12)
    return f"{m:02d}{rng.randint(1, calendar.monthrange(y, m)[1]):02d}{y}"


def _dby(rng: random.Random) -> str | None:
    if rng.random() < 0.15:
        return None
    return f"{rng.randint(1, 28)}-{rng.choice(_MONTHS)}-{rng.choice([20, 21, 22])}"


def _amt(rng: random.Random, lo: float = 5.0, hi: float = 5000.0) -> float:
    return round(rng.uniform(lo, hi), 2)


def generate(seed: int, n_indiv: int) -> dict[str, list[dict]]:
    """All 13 landing tables for one seed; sizes scale with ``n_indiv``."""
    rng = random.Random(seed)
    n_cand = max(20, n_indiv // 100)
    n_cmte = max(40, n_indiv // 50)
    cand_ids = [f"{'HSP'[i % 3]}{seed % 1000:03d}{i:05d}" for i in range(n_cand)]
    cmte_ids = [f"C{seed % 1000:03d}{i:05d}" for i in range(n_cmte)]

    def cmte_fk() -> str:
        # ~5 % dangling: ids that no committee row carries
        return f"CX{rng.randint(0, 10**6):07d}" if rng.random() < 0.05 else rng.choice(cmte_ids)

    def cand_fk() -> str:
        return f"HX{rng.randint(0, 10**6):07d}" if rng.random() < 0.05 else rng.choice(cand_ids)

    cn = [
        {
            "cand_id": cid, "cand_name": _person(rng),
            "cand_pty_affiliation": rng.choice(["DEM", "REP", "IND", None]),
            "cand_election_yr": rng.choice([2022, 2024]), "cand_office_st": rng.choice(_STATES),
            "cand_office": cid[0], "cand_office_district": f"{rng.randint(0, 20):02d}",
            "cand_ici": rng.choice("ICO"), "cand_status": "C", "cand_pcc": rng.choice(cmte_ids),
            "cand_city": "CITY", "cand_st": rng.choice(_STATES), "cand_zip": rng.choice(["94105", "941051234"]),
        }
        for cid in cand_ids
    ]
    cm = [
        {
            "cmte_id": mid, "cmte_nm": f"COMMITTEE {i}", "tres_nm": _person(rng),
            "cmte_city": "CITY", "cmte_st": rng.choice(_STATES), "cmte_zip": f"{rng.randint(10000, 99999)}",
            "cmte_dsgn": rng.choice("BPUAJD"), "cmte_tp": rng.choice("HSNQPXYO"),
            "cmte_pty_affiliation": None if rng.random() < 0.2 else rng.choice(["DEM", "REP"]),
            "cmte_filing_freq": rng.choice("QMT"), "org_tp": rng.choice(["C", "L", "T", None]),
            "connected_org_nm": None if rng.random() < 0.3 else f"ORG {i}",
            "cand_id": cand_fk() if rng.random() < 0.4 else None,
        }
        for i, mid in enumerate(cmte_ids)
    ]
    ccl = []
    for i, cid in enumerate(cand_ids):
        for _ in range(rng.randint(1, 3)):
            ccl.append({
                "cand_id": cid, "cand_election_yr": 2022, "fec_election_yr": rng.choice([2022, 2024]),
                "cmte_id": cmte_fk(), "cmte_tp": "H", "cmte_dsgn": rng.choice("PA"),
                "linkage_id": 100_000 + len(ccl),
            })
        if i % 7 == 0:
            ccl.append(dict(ccl[-1]))  # duplicate linkage row (last-write-wins)

    sub_base = 10**12 + (seed % 1000) * 10**8

    def txn(kind: str, i: int) -> dict:
        if kind == "indiv":
            ent = rng.choice(["IND"] * 8 + ["ORG", "CAN"])
        else:
            ent = rng.choice(["IND", "ORG", "ORG", "CAN", "CCM", "COM", "PAC", "PTY"])
        r = rng.random()
        if ent == "IND" and kind == "indiv":
            other = None
        elif r < 0.2:
            other = None
        elif r < 0.6:
            other = cmte_fk()
        else:
            other = cand_fk()
        name = rng.choice(_ORGS) if ent in ("ORG", "COM", "PAC", "PTY") else _person(rng)
        return {
            "cmte_id": None if rng.random() < 0.03 else cmte_fk(),
            "amndt_ind": "A" if rng.random() < 0.05 else "N", "rpt_tp": rng.choice(["Q1", "Q2", "YE", "M3"]),
            "transaction_pgi": rng.choice(["P", "G", None]), "image_num": f"IMG{kind[0]}{i}",
            "transaction_tp": rng.choice(_TXN_TP), "entity_tp": ent,
            "name": None if rng.random() < 0.02 else name, "city": "CITY", "state": rng.choice(_STATES),
            "zip_code": rng.choice(_ZIPS), "employer": "EMPLOYER" if ent == "IND" else None,
            "occupation": "JOB" if ent == "IND" else None, "transaction_dt": _mmddyyyy(rng),
            "transaction_amt": _amt(rng), "other_id": other, "tran_id": f"T{kind[0]}{i}",
            "file_num": 700_000 + i // 25, "memo_cd": "X" if rng.random() < 0.1 else None,
            "memo_text": None, "sub_id": sub_base + (0 if kind == "indiv" else 4 * 10**7) + i,
        }

    indiv = [txn("indiv", i) for i in range(n_indiv)]
    oth = [txn("oth", i) for i in range(n_indiv // 4)]
    # exact duplicate rows across indiv/oth (DISTINCT coverage)
    oth += [dict(r) for r in rng.sample(indiv, max(1, n_indiv // 50))]

    pas = []
    for i in range(max(10, n_indiv // 10)):
        row = txn("pas", i)
        row["sub_id"] = sub_base + 6 * 10**7 + i
        row["cand_id"] = None if rng.random() < 0.05 else cand_fk()
        pas.append(row)
    pas += [dict(r) for r in pas[:2]]  # exact duplicate pair

    oppexp = [
        {
            "cmte_id": cmte_fk(), "amndt_ind": "N", "rpt_yr": 2022, "rpt_tp": "Q1",
            "image_num": f"IMGE{i}", "line_num": "21", "form_tp_cd": "F3", "sched_tp_cd": "SB",
            "name": f"VENDOR {i % 97}", "city": "CITY", "state": rng.choice(_STATES),
            "zip_code": rng.choice(["945301234", "94105", None]),
            "transaction_dt": f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/2021",
            "transaction_amt": _amt(rng, 50, 50_000), "transaction_pgi": "P", "purpose": "ADS",
            "category": "004", "category_desc": "Advertising",
            "memo_cd": "X" if rng.random() < 0.1 else None, "entity_tp": "ORG",
            "sub_id": sub_base + 8 * 10**7 + i, "file_num": 800_000 + i, "tran_id": f"E{i}",
        }
        for i in range(max(10, n_indiv // 10))
    ]

    independent = []
    for i in range(max(10, n_indiv // 20)):
        amend = i >= 3 and i % 5 == 4
        independent.append({
            "can_id": None if rng.random() < 0.1 else cand_fk(), "can_nam": _person(rng),
            "spe_id": cmte_fk(), "spe_nam": f"SPENDER {i}", "ele_typ": "G",
            "can_off_sta": rng.choice(_STATES), "can_off_dis": "01", "can_off": "H",
            "can_par_aff": rng.choice(["DEMOCRATIC", "REP", None]), "exp_amo": _amt(rng, 100, 90_000),
            "exp_dat": _dby(rng), "agg_amo": _amt(rng, 100, 200_000), "sup_opp": rng.choice("SO"),
            "pur": "ADS", "pay": f"PAYEE {i}", "file_num": 900_000 + i, "amn_ind": "A" if amend else "N",
            # amendments keep the predecessor's tran id and point at its filing
            "tra_id": f"TR{i - 3}" if amend else f"TR{i}", "ima_num": f"IMGI{i}",
            "rec_dt": _dby(rng), "fec_election_yr": 2022,
            "prev_file_num": 900_000 + i - 3 if amend else None,
        })

    money_w = [f.name for f in schemas.WEBALL.fields if f.dataType.typeName() == "double"]
    weball = [
        {
            "cand_id": c["cand_id"], "cand_name": c["cand_name"], "cand_ici": c["cand_ici"], "pty_cd": "1",
            "cand_pty_affiliation": c["cand_pty_affiliation"], **{m: _amt(rng, 0, 10**6) for m in money_w},
            "cand_office_st": c["cand_office_st"], "cand_office_district": c["cand_office_district"],
            "gen_election": rng.choice("WL"), "cvg_end_dt": "12/31/2022",
        }
        for c in cn
    ]
    webl = [dict(r) for r in weball[: len(weball) // 2]]
    money_k = [f.name for f in schemas.WEBK.fields if f.dataType.typeName() == "double"]
    webk = [
        {
            "cmte_id": m["cmte_id"], "cmte_nm": m["cmte_nm"], "cmte_tp": m["cmte_tp"],
            "cmte_dsgn": m["cmte_dsgn"], "cmte_filing_freq": m["cmte_filing_freq"],
            **{c: _amt(rng, 0, 10**6) for c in money_k}, "cvg_end_dt": "12/31/2022",
        }
        for m in cm
    ]
    electioneering = [
        {
            "candidate_id": cand_fk(), "candidate_name": _person(rng), "candidate_office": "H",
            "candidate_state": rng.choice(_STATES), "committee_id": cmte_fk(),
            "committee_name": f"COMMITTEE {i}", "sb_image_num": f"SB{i}", "payee_name": f"PAYEE {i}",
            "disbursement_description": "TV ADS", "disbursement_date": f"{rng.randint(1, 12)}/3/2022",
            "communication_date": f"{rng.randint(1, 12)}/4/2022",
            "public_distribution_date": None if i % 3 == 0 else f"{rng.randint(1, 12)}/5/2022",
            "reported_disbursement_amount": _amt(rng, 1000, 50_000), "number_of_candidates": 1 + i % 3,
            "calculated_candidate_share": _amt(rng, 100, 20_000),
        }
        for i in range(max(5, n_indiv // 100))
    ]
    communication = [
        {
            "cmte_id": cmte_fk(), "cmte_name": f"COMMITTEE {i}", "candidate_id": cand_fk(),
            "candidate_name": _person(rng), "candidate_office": "H", "candidate_office_state": "CA",
            "cand_pty_affiliation": rng.choice(["DEM", "REP"]), "transaction_dt": _mmddyyyy(rng),
            "transaction_amt": _amt(rng, 100, 9000), "transaction_tp": "24F",
            "communication_tp": rng.choice(["DM", "TV"]), "communication_class": "C",
            "support_oppose_ind": rng.choice("SO"), "image_num": f"IMGC{i}", "line_num": 1 + i % 4,
            "form_tp_cd": "F7", "sched_tp_cd": "SF", "tran_id": f"CC{i}",
            "sub_id": sub_base + 9 * 10**7 + i, "file_num": 850_000 + i, "rpt_yr": 2022,
            "cand_state_description": "CALIFORNIA", "purpose": "MAILER",
        }
        for i in range(max(5, n_indiv // 100))
    ]
    return {
        "cn": cn, "cm": cm, "ccl": ccl, "indiv": indiv, "oth": oth, "pas": pas,
        "oppexp": oppexp, "independent_expenditure": independent, "weball": weball,
        "webl": webl, "webk": webk, "ElectioneeringComm": electioneering,
        "CommunicationCosts": communication,
    }


def _field(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return f"{v:.2f}"
    return str(v)


def write_landing(tables: dict[str, list[dict]], landing_dir: str) -> None:
    """Write each table as pipe-delimited ``<prefix>.txt`` in schema order."""
    os.makedirs(landing_dir, exist_ok=True)
    for prefix, rows in tables.items():
        cols = schemas.BY_PREFIX[prefix].fieldNames()
        with open(os.path.join(landing_dir, f"{prefix}.txt"), "w", encoding="utf-8", newline="\n") as f:
            for r in rows:
                f.write("|".join(_field(r.get(c)) for c in cols) + "\n")


def land(seed: int, n_indiv: int, landing_dir: str) -> dict:
    """Generate and write one seed's landing files; return what the
    benchmark checks the program against: the derivation row counts,
    the sorted keys the document sink drains, and the landed row count.
    Meant to run in a child process, so the row dicts never count
    towards the benchmark driver's memory."""
    tables = generate(seed, n_indiv)
    write_landing(tables, landing_dir)
    return {
        "expected": expected_counts(tables),
        "keys": sorted(contribution_keys(tables)),
        "input_rows": sum(len(rows) for rows in tables.values()),
    }


def landing_digest(landing_dir: str) -> str:
    """sha256 over every landing file, in prefix order."""
    h = hashlib.sha256()
    for prefix in PREFIXES:
        with open(os.path.join(landing_dir, f"{prefix}.txt"), "rb") as f:
            h.update(prefix.encode() + b"\0" + f.read())
    return h.hexdigest()


# --- pure-Python mirror of the derivation row counts ------------------------

_CONTRIB = [
    "cmte_id", "other_id", "amndt_ind", "rpt_tp", "transaction_pgi", "transaction_tp",
    "entity_tp", "name", "state", "zip_code", "employer", "occupation", "transaction_dt",
    "transaction_amt", "memo_text", "image_num", "file_num", "tran_id", "sub_id",
]
_ISO = re.compile(r"^(\d{4})-(\d{2})-(\d{2})$")


def _repair(r: dict, cols: list[str]) -> tuple:
    """Master projection: zip truncated to 5, MMDDYYYY rebuilt to ISO."""
    out = []
    for c in cols:
        v = r.get(c)
        if c == "zip_code" and v is not None:
            v = v[:5]
        elif c == "transaction_dt" and v is not None:
            v = f"{v[4:8]}-{v[0:2]}-{v[2:4]}"
        out.append(v)
    return tuple(out)


def _is_disb(tp: str) -> bool:
    return tp[0] in "24" and tp not in ("24I", "24T")


def _classify(m: dict) -> tuple[str, str, str] | None:
    """(classification, source, target) of one master row in the 9-view
    layer, or None when no arm selects it (the arms are disjoint)."""
    ent, other, cmte, disb = m["entity_tp"], m["other_id"], m["cmte_id"], _is_disb(m["transaction_tp"])
    if cmte is None:
        return None
    c_like = other is not None and other.startswith("C")
    if ent == "CAN" and other is not None and not c_like and not disb:
        return "candidate", other, cmte
    if ent == "IND" and not disb and m["name"] is not None:
        return "individual", None, cmte
    if ent == "ORG" and other is None and not disb and m["name"] is not None:
        return "organization", None, cmte
    if other is None:
        return None
    if ent in ("CCM", "COM", "PAC", "PTY"):
        return ("committee", cmte, other) if disb else ("committee", other, cmte)
    if ent in ("CAN", "ORG") and c_like:
        return ("committee", cmte, other) if disb else (("committee", other, cmte) if ent == "ORG" else None)
    return None


def _clean_zip(z: str | None) -> str:
    if not z:
        return ""
    s = z.strip()
    if s.isdigit():
        n = int(s)
        return "" if n == 0 else str(n).rjust(5, "0")
    return z.rjust(5, "0")


def _day(dt: str | None) -> str | None:
    m = _ISO.match(dt or "")
    if not m:
        return None
    y, mo, d = (int(x) for x in m.groups())
    try:
        datetime.date(y, mo, d)
    except ValueError:
        return None
    return f"{y}-{mo}-{d}"


def contribution_keys(tables: dict[str, list[dict]]) -> list[int]:
    """sub_ids of the classified view (what the document sink drains)."""
    return [m["sub_id"] for m in _elastic(tables)]


def _master(tables: dict[str, list[dict]]) -> list[dict]:
    rows = {
        _repair(r, _CONTRIB)
        for r in tables["oth"] + tables["indiv"]
        if r.get("memo_cd") is None
    }
    return [dict(zip(_CONTRIB, t)) for t in rows]


def _elastic(tables: dict[str, list[dict]]) -> list[dict]:
    out = []
    for m in _master(tables):
        cls = _classify(m)
        if cls is not None:
            out.append({**m, "classification": cls[0], "source": cls[1], "target": cls[2]})
    return out


def expected_counts(tables: dict[str, list[dict]]) -> dict[str, int]:
    """Row counts ``run_bulk_import`` + ``run_derivations`` must report
    when ``tables`` are the landed files (optional tables gate their
    derivations, as in ``run_derivations``)."""
    counts = {p: len(rows) for p, rows in tables.items()}
    counts["contributions_master"] = len(_master(tables))
    if "oppexp" in tables:
        counts["expenditures_master"] = (
            sum(r.get("memo_cd") is None for r in tables["oppexp"])
            + len(tables["independent_expenditure"])
        )
    elastic = _elastic(tables)
    counts["contributions_elastic"] = len(elastic)

    if "pas" in tables:
        pas_cols = _CONTRIB[:2] + ["cand_id"] + _CONTRIB[2:]
        pas_master = {_repair(r, pas_cols) for r in tables["pas"] if r.get("memo_cd") is None}
        counts["pas_master"] = len(pas_master)
        counts["pas_elastic"] = sum(t[0] is not None and t[2] is not None for t in pas_master)

    if "ccl" in tables:
        ccl = tables["ccl"]
        counts["linkages"] = len({r["cand_id"] for r in ccl}) + len({r["cmte_id"] for r in ccl})
    counts["candidate_docs"] = len(tables["cn"])
    counts["committee_docs"] = len(tables["cm"])

    nodes, edges = set(), set()
    for e in elastic:
        if e["classification"] in ("individual", "organization"):
            src = ("Donor", f"{e['name']}|{_clean_zip(e['zip_code'])}")
        else:
            src = ("Candidate" if e["classification"] == "candidate" else "Committee", e["source"])
        sub = str(e["sub_id"])
        nodes |= {src, ("Committee", e["target"]), ("Contribution", sub)}
        edges |= {
            (*src, "CONTRIBUTED_TO", "Contribution", sub),
            ("Contribution", sub, "CONTRIBUTED_TO", "Committee", e["target"]),
            (*src, "CONTRIBUTED_TO", "Committee", e["target"]),
        }
        day = _day(e["transaction_dt"])
        if day is not None:
            nodes.add(("Day", day))
            edges.add(("Contribution", sub, "HAPPENED_ON", "Day", day))
    counts["graph_nodes"] = len(nodes)
    counts["graph_edges"] = len(edges)
    return counts
