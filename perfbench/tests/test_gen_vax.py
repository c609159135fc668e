"""The generator's exact counts, recounted from the files it wrote."""

import csv
import glob
import os

import gen_vax
from incubyte_vaccination_data_pipeline_spark.schema import EXPECTED_PIPE_HEADER


def _recount(out_dir):
    dead = filtered = kept = rows = 0
    views = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.csv"))):
        country = os.path.basename(path)[:3]
        with open(path, newline="") as f:
            reader = csv.reader(f)
            header = next(reader)
            name_col = header.index("Patient Name" if "Patient Name" in header else "Name")
            id_col = 0
            open_col = header.index(
                "Date of Vaccination" if "Date of Vaccination" in header else "VaccinationDate")
            customers = set()
            for rec in reader:
                if rec[0].startswith("|"):
                    continue
                rows += 1
                if rec[open_col] == gen_vax.BAD_OPEN:
                    dead += 1
                elif rec[name_col] == "":
                    filtered += 1
                else:
                    kept += 1
                    customers.add(rec[id_col])
        views[f"VIEW_{country}"] = len(customers)
    return rows, dead, filtered, kept, views


def test_counts_match_the_files(tmp_path):
    exp = gen_vax.generate(str(tmp_path), rows=4000, seed=7)
    rows, dead, filtered, kept, views = _recount(str(tmp_path))
    assert exp.input_rows == rows == 4000
    assert exp.dead_letter_rows == dead > 0
    assert exp.mandatory_filtered_rows == filtered > 0
    assert exp.warehouse_rows == kept == rows - dead - filtered
    assert exp.view_rows == views
    assert exp.input_bytes == sum(os.path.getsize(p) for p in glob.glob(f"{tmp_path}/*.csv"))


def test_dialects_and_pipe_frame(tmp_path):
    gen_vax.generate(str(tmp_path), rows=800, seed=1)
    lines = (tmp_path / "IND_vaccinations.csv").read_text().splitlines()
    assert lines[1].split(",")[0] == EXPECTED_PIPE_HEADER
    assert any(line.startswith("|D|") for line in lines)
    assert lines[-1].startswith("|T|")
    usa = (tmp_path / "USA_vaccinations.csv").read_text().splitlines()
    assert "/" not in usa[1].split(",")[3]  # compact Mddyyyy
    aus = (tmp_path / "AUS_vaccinations.csv").read_text().splitlines()
    assert aus[0].startswith("Unique ID,Patient Name")


def test_same_seed_same_corpus(tmp_path):
    a, b, c = (tmp_path / "a"), (tmp_path / "b"), (tmp_path / "c")
    gen_vax.generate(str(a), rows=800, seed=3)
    gen_vax.generate(str(b), rows=800, seed=3)
    gen_vax.generate(str(c), rows=800, seed=4)
    name = "FRA_vaccinations.csv"
    assert (a / name).read_bytes() == (b / name).read_bytes()
    assert (a / name).read_bytes() != (c / name).read_bytes()
