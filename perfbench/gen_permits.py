"""Seeded generator for the monthly permits ETL workload.

Writes, under one output directory:

* ``permissions.csv`` — the reference-shaped ``#``-delimited permits dump
  (26 string columns, header row) spanning ``n_months`` logical months;
* ``powiaty.parquet`` — the 380-county dimension (``JPT_KOD_JE``,
  ``JPT_NAZWA_``, ``geometry``);

and returns the ground truth the benchmark checks the pipeline against:
per month, the ingest-audit class counts, and per month × county ×
(rodzaj, kategoria) the number of rows the aggregate must count.

Planted on purpose:

* every branch of the terc correction tree — valid 7-digit codes, float
  artifacts (``'1465011.0'``), 6-digit codes that need a zero pad, null
  terc resolved through ``jednostki_numer``, null terc resolved through a
  case-insensitive ``miasto`` match against county names (first match =
  lowest code), null terc with nothing usable (``Unknown``), codes with a
  bad voivodeship prefix (``Unknown2``) and garbage (``Unknown3``);
* county codes that pass the terc check but are not in the dimension
  (kept in the fact, dropped by the aggregate's dimension join);
* unparseable event times, both shape-valid (``2022-13-05 10:00:00``) and
  shape-invalid (``05/06/2022``);
* one new ``kategoria`` value in every month after the first
  ``base_months``, so the aggregate sink's schema grows every update
  month.

The truth is computed here from what was planted, not by re-running the
engine's logic.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = [
    "numer_ewidencyjny_system", "numer_ewidencyjny_urzad",
    "data_wplywu_wniosku_do_urzedu", "nazwa_organu", "wojewodztwo_objekt",
    "obiekt_kod_pocztowy", "miasto", "terc", "cecha", "cecha2", "ulica",
    "ulica_dalej", "nr_domu", "kategoria", "nazwa_zam_budowlanego",
    "rodzaj_zam_budowlanego", "kubatura", "stan", "jednostki_numer",
    "obreb_numer", "numer_dzialki", "numer_arkusza_dzialki",
    "nazwisko_projektanta", "imie_projektanta",
    "projektant_numer_uprawnien", "projektant_pozostali",
]
VOIVODESHIPS = ["02", "04", "06", "08", "10", "12", "14", "16",
                "18", "20", "22", "24", "26", "28", "30", "32"]
RODZAJ = [
    "budowa nowego/nowych obiektów budowlanych",
    "rozbudowa istniejącego/istniejących obiektów budowlanych",
    "odbudowa istniejącego/istniejących obiektów budowlanych",
    "nadbudowa istniejącego/istniejących obiektów budowlanych",
    "wykonanie robót budowlanych innych niż wymienione powyżej",
]
ROMAN = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X",
         "XI", "XII", "XIII", "XIV", "XV", "XVI", "XVII", "XVIII", "XIX",
         "XX", "XXI", "XXII", "XXIII", "XXIV", "XXV", "XXVI", "XXVII",
         "XXVIII", "XXIX", "XXX"]
N_COUNTIES = 380
# codes that pass the terc check but are absent from the dimension
ORPHAN_COUNTIES = ("3299", "1499", "0299")
SYLLABLES = ["bor", "wia", "kra", "low", "sta", "mie", "gro", "dzi",
             "pol", "nik", "ska", "zam", "lec", "rze", "tar", "wol",
             "bia", "cie", "gor", "kol", "lub", "mar", "now", "ost",
             "pru", "raw", "sok", "tur", "wad", "zie"]
# miasto values that match no county name (no syllable contains 'q'/'x')
NO_MATCH_CITIES = ["Qxville", "Xqtown", "Quxow", "Xaqbur"]

# row classes and their shares; the last class takes the remainder
CLASSES = [
    ("valid7", 0.70), ("float7", 0.03), ("pad6", 0.07), ("bad_pad6", 0.01),
    ("jn", 0.05), ("fuzzy", 0.05), ("unknown", 0.02), ("bad_prefix", 0.02),
    ("garbage", 0.02), ("orphan", 0.02),
]
UNPARSEABLE_SHARE = 0.03


def month_starts(first: dt.date, n: int) -> list[dt.date]:
    out, y, m = [], first.year, first.month
    for _ in range(n):
        out.append(dt.date(y, m, 1))
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _counties(rng: np.random.Generator) -> list[tuple[str, str]]:
    """380 (code, name) pairs; codes are voivodeship prefix + 2 digits."""
    per = [N_COUNTIES // len(VOIVODESHIPS)] * len(VOIVODESHIPS)
    for i in range(N_COUNTIES - sum(per)):
        per[i] += 1
    names: set[str] = set()
    out = []
    for v, n in zip(VOIVODESHIPS, per):
        for k in range(1, n + 1):
            while True:
                parts = rng.choice(SYLLABLES, size=int(rng.integers(2, 4)))
                name = "".join(parts).capitalize()
                if name not in names:
                    names.add(name)
                    break
            out.append((f"{v}{k:02d}", f"powiat {name}"))
    return out


def _first_match(city: str, counties: list[tuple[str, str]]) -> str | None:
    hits = [c for c, name in counties if city.lower() in name.lower()]
    return min(hits) if hits else None


def generate(out_dir: str, seed: int, n_months: int, rows_per_month: int,
             base_kategorie: int = 18, base_months: int = 3,
             first_month: dt.date = dt.date(2021, 1, 1)) -> dict:
    """Write the inputs under ``out_dir`` and return the ground truth."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counties = _counties(rng)
    codes = [c for c, _ in counties]
    code_set = set(codes)
    pad_codes = [c for c in codes if c[0] == "0"]   # 02xx..08xx
    months = month_starts(first_month, n_months)

    # fuzzy cities: a syllable run cut from a county name (may match
    # several counties: the lowest code wins), in mixed case
    fuzzy_cities = []
    for code, name in counties[:: max(1, N_COUNTIES // 40)]:
        stem = name.split(" ", 1)[1]
        city = stem[: max(3, len(stem) - 2)]
        fuzzy_cities.append(city.upper() if len(fuzzy_cities) % 2 else city)
    fuzzy_truth = {c: _first_match(c, counties) for c in fuzzy_cities}

    class_names = [c for c, _ in CLASSES]
    class_p = np.array([p for _, p in CLASSES])
    class_p[-1] = 1.0 - class_p[:-1].sum()

    audit: dict[str, dict[str, int]] = {}
    cells: dict[str, dict[str, dict[str, int]]] = {}
    validate = {"element_count": 0, "terc_nonnull": 0, "terc_regex_ok": 0}
    lines = ["#".join(COLUMNS)]
    serial = 0
    for mi, start in enumerate(months):
        key = start.strftime("%Y-%m")
        n_kat = base_kategorie + max(0, mi - base_months + 1)
        kats = ROMAN[: min(n_kat, len(ROMAN))]
        a = {"total": 0, "unknown": 0, "unknown2": 0, "unknown3": 0}
        month_cells: dict[str, dict[str, int]] = {}
        days = (month_starts(start, 2)[1] - start).days
        cls_draw = rng.choice(len(class_names), size=rows_per_month, p=class_p)
        for i in range(rows_per_month):
            serial += 1
            cls = class_names[cls_draw[i]]
            code = codes[int(rng.integers(len(codes)))]
            jn, miasto, county = "", f"Miasto{int(rng.integers(1000))}", None
            outcome = None                       # None = kept
            if cls == "valid7":
                terc, county = f"{code}{int(rng.integers(1, 1000)):03d}", code
            elif cls == "float7":
                terc, county = f"{code}{int(rng.integers(1, 1000)):03d}.0", code
            elif cls == "pad6":
                code = pad_codes[int(rng.integers(len(pad_codes)))]
                terc, county = f"{code[1:]}{int(rng.integers(1, 1000)):03d}", code
            elif cls == "bad_pad6":
                # odd first digit: the zero-padded prefix 01/03/.. is invalid
                terc = f"{int(rng.integers(5)) * 2 + 1}{int(rng.integers(10000, 99999))}"
                outcome = "unknown2"
            elif cls == "jn":
                terc = "" if i % 2 else "nan"
                jn, county = f"{code}{int(rng.integers(1, 100)):02d}_1", code
            elif cls == "fuzzy":
                terc, jn = "" if i % 2 else "nan", "" if i % 3 else "nan"
                miasto = fuzzy_cities[int(rng.integers(len(fuzzy_cities)))]
                county = fuzzy_truth[miasto]
            elif cls == "unknown":
                terc, jn = "", "nan" if i % 2 else ""
                miasto = NO_MATCH_CITIES[int(rng.integers(len(NO_MATCH_CITIES)))] if i % 3 else ""
                outcome = "unknown"
            elif cls == "bad_prefix":
                # every voivodeship code is even: an odd second digit is invalid
                terc = f"{int(rng.integers(10))}{int(rng.integers(5)) * 2 + 1}{int(rng.integers(10000, 99999))}"
                outcome = "unknown2"
            elif cls == "garbage":
                terc = ["abc12", "12-3456", code, "T" + code][i % 4]
                outcome = "unknown3"
            else:                                # orphan
                o = ORPHAN_COUNTIES[i % len(ORPHAN_COUNTIES)]
                terc, county = f"{o}{int(rng.integers(1, 1000)):03d}", o
            rodzaj = RODZAJ[int(rng.integers(len(RODZAJ)))]
            kat = kats[int(rng.integers(len(kats)))]
            if rng.random() < UNPARSEABLE_SHARE:
                ts = ["2022-13-05 10:00:00", "2021-02-30 08:15:00",
                      "05/06/2022", "brak"][i % 4]
            else:
                day = int(rng.integers(days))
                secs = int(rng.integers(1, 86400))
                t = dt.datetime.combine(start, dt.time()) + dt.timedelta(days=day, seconds=secs)
                ts = t.strftime("%Y-%m-%d %H:%M:%S")
                a["total"] += 1
                if outcome is not None:
                    a[outcome] += 1
                elif county in code_set:
                    cell = f"{rodzaj}|{kat}"
                    per = month_cells.setdefault(county, {})
                    per[cell] = per.get(cell, 0) + 1
            validate["element_count"] += 1
            if terc != "":
                validate["terc_nonnull"] += 1
                validate["terc_regex_ok"] += int(terc.isdigit() and len(terc) in (6, 7))
            lines.append("#".join([
                f"SYS{seed}-{serial}", f"URZ/{serial}", ts, "Starosta",
                "", f"{int(rng.integers(10, 99))}-{int(rng.integers(100, 999))}",
                miasto, terc, "", "", f"ul. Prosta {serial % 97}", "",
                str(serial % 200), kat, "budynek mieszkalny", rodzaj,
                str(int(rng.integers(100, 5000))), "", jn, "0001",
                f"{serial % 500}/{serial % 7}", "", "Kowalska", "Anna",
                f"UPR-{serial % 1000}", "",
            ]))
        audit[key] = a
        cells[key] = month_cells

    with open(os.path.join(out_dir, "permissions.csv"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    wkt = [f"POLYGON (({i} 0, {i} 1, {i + 1} 1, {i + 1} 0, {i} 0))"
           for i in range(N_COUNTIES)]
    pq.write_table(pa.table({
        "JPT_KOD_JE": codes,
        "JPT_NAZWA_": [n for _, n in counties],
        "geometry": wkt,
    }), os.path.join(out_dir, "powiaty.parquet"))
    return {
        "months": [m.strftime("%Y-%m") for m in months],
        "counties": codes,
        "audit": audit,
        "cells": cells,
        "validate": validate,
    }
