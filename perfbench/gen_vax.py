"""Seeded multi-dialect vaccination CSV corpus for ``pipeline_ingest``.

Writes one CSV per country in the reference's three source dialects
(India, USA with compact ``Mddyyyy`` dates, Australia), with one file
carrying a ``|H|`` pipe-framed header record, ``|D|`` data records and a
``|T|`` trailer, all of which the ingest strips. Dirt is planted per row
at fixed rates:

- an unparseable mandatory ``Open_Date`` (``2021-13-13``): dead-lettered
  and kept out of the warehouse;
- an empty mandatory name: dropped by the mandatory filter;
- an invalid DOB (``13/45/1970``): kept, DOB nulled.

Customers repeat about four times with distinct consult dates, so the
per-country dedup-latest views do real work. The generator tallies what
it plants, so :class:`Expected` holds exact counts for every pass.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

from incubyte_vaccination_data_pipeline_spark.schema import EXPECTED_PIPE_HEADER

COUNTRIES = ["IND", "USA", "AUS", "FRA", "GER", "JPN", "BRA", "CAN"]
USA_STYLE = {"USA", "BRA"}
AUS_STYLE = {"AUS", "CAN"}
PIPE_FRAMED = "IND"

IND_HEADER = ["ID", "Name", "DOB", "VaccinationType", "VaccinationDate",
              "Consultation Date", "Doctor Name", "State"]
USA_HEADER = ["ID", "Name", "VaccinationType", "VaccinationDate",
              "Consultation Date", "Doctor Name", "State"]
AUS_HEADER = ["Unique ID", "Patient Name", "Vaccine Type", "Date of Birth",
              "Date of Vaccination", "Last Consulted Date", "Doctor",
              "State/Province"]

BAD_OPEN_RATE = 1 / 53
NULL_NAME_RATE = 1 / 97
BAD_DOB_RATE = 1 / 59
CONSULTS_PER_CUSTOMER = 4

BAD_OPEN = "2021-13-13"
BAD_DOB = "13/45/1970"
FIRST = ["Asha", "Ravi", "Sam", "John", "Mia", "Lena", "Kenji", "Ana",
         "Luc", "Eva", "Omar", "Noor", "Ivan", "Yuki", "Paul", "Rosa"]
LAST = ["Rao", "Smith", "Brown", "Khan", "Mori", "Silva", "Weber", "Dubois",
        "Costa", "Lee", "Novak", "Singh"]
VACCINES = ["XYZ", "ABC", "EFG", "LMN", "MVD"]
STATES = ["SA", "TN", "WA", "NY", "QL", "BC", "KA", "DL"]
OPEN_BASE = dt.date(2020, 1, 1)
DOB_BASE = dt.date(1940, 1, 1)


@dataclass
class Expected:
    """Exact outcome of one pipeline pass over the generated corpus."""

    input_rows: int = 0
    input_bytes: int = 0
    dead_letter_rows: int = 0
    mandatory_filtered_rows: int = 0
    warehouse_rows: int = 0
    view_rows: dict[str, int] = field(default_factory=dict)


def _mdy(d: dt.date) -> str:
    return f"{d.month:02d}/{d.day:02d}/{d.year}"


def _compact(d: dt.date) -> str:
    # M (no leading zero) + dd + yyyy: 7 or 8 digits
    return f"{d.month}{d.day:02d}{d.year}"


def _rows(rng: random.Random, country: str, cidx: int, n: int, exp: Expected):
    usa, aus = country in USA_STYLE, country in AUS_STYLE
    fmt = _compact if usa else _mdy
    customers: set[str] = set()
    for i in range(n):
        cust = str(cidx * 10_000_000 + i // CONSULTS_PER_CUSTOMER)
        bad_open = rng.random() < BAD_OPEN_RATE
        null_name = rng.random() < NULL_NAME_RATE
        bad_dob = rng.random() < BAD_DOB_RATE
        opened = OPEN_BASE + dt.timedelta(days=rng.randrange(1096))
        consulted = opened + dt.timedelta(days=rng.randrange(211))
        dob = DOB_BASE + dt.timedelta(days=rng.randrange(23_000))
        name = "" if null_name else f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        vacc = rng.choice(VACCINES)
        doctor = f"Dr {rng.choice(LAST)}"
        state = rng.choice(STATES)
        open_s = BAD_OPEN if bad_open else fmt(opened)
        consult_s = fmt(consulted)
        dob_s = BAD_DOB if bad_dob else _mdy(dob)
        if bad_open:
            exp.dead_letter_rows += 1
        elif null_name:
            exp.mandatory_filtered_rows += 1
        else:
            exp.warehouse_rows += 1
            customers.add(cust)
        if usa:
            yield [cust, name, vacc, open_s, consult_s, doctor, state]
        elif aus:
            yield [cust, name, vacc, dob_s, open_s, consult_s, doctor, state]
        else:
            yield [cust, name, dob_s, vacc, open_s, consult_s, doctor, state]
    exp.input_rows += n
    exp.view_rows[f"VIEW_{country}"] = len(customers)


def generate(out_dir: str, rows: int, seed: int) -> Expected:
    """Write ``rows`` data rows split evenly over the country files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    exp = Expected()
    per_file = rows // len(COUNTRIES)
    for cidx, country in enumerate(COUNTRIES):
        header = (USA_HEADER if country in USA_STYLE
                  else AUS_HEADER if country in AUS_STYLE else IND_HEADER)
        pad = "," * (len(header) - 1)
        lines = [",".join(header)]
        framed = country == PIPE_FRAMED
        if framed:
            lines.append(EXPECTED_PIPE_HEADER + pad)
        for j, row in enumerate(_rows(rng, country, cidx, per_file, exp)):
            lines.append(",".join(row))
            if framed and j % 1000 == 0:
                lines.append(f"|D|{row[1]}|{row[0]}|{row[4]}" + pad)
        if framed:
            lines.append(f"|T|{per_file}" + pad)
        path = os.path.join(out_dir, f"{country}_vaccinations.csv")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        exp.input_bytes += os.path.getsize(path)
    return exp
