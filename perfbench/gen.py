"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical files. The program under test only ever sees the files;
the tallies stay with the benchmark, which checks every operation's
output against them.

Energy readings follow the raw CSV of the reference ingest tier
(500 homes, 10 appliances, 181 days, the literal `(?C)` header) with a
fixed share of dirty rows. Documents follow the measured shape of the
curation corpus: 10-100 words over a 30-word vocabulary, five languages,
twenty sources, and about one near-duplicate in twenty ("<text> dup").
"""
import json
import os
import random
from datetime import date, timedelta

HEADER = ("Home ID,Appliance Type,Energy Consumption (kWh),Time,Date,"
          "Outdoor Temperature (?C),Season,Household Size")
HOMES = 500
APPLIANCES = ["Oven", "Dishwasher", "Heater", "Lights", "TV",
              "Washing Machine", "Air Conditioning", "Computer", "Fridge",
              "Microwave"]
FIRST_DAY = date(2023, 1, 1)
DAYS = 181  # 01-01-2023 .. 30-06-2023
MONTHS = 6
# One row in DIRTY_EVERY is dirty, exactly, in every batch whose size is
# a multiple of DIRTY_EVERY: the reject ratio is a known constant.
DIRTY_EVERY = 25
DIRTY_KINDS = ("empty_home", "bad_kwh", "empty_appliance")

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]
SOURCES = 20
NEAR_DUP_EVERY = 20


def season(d: date) -> str:
    return "Winter" if d.month <= 2 or d.month == 12 else "Spring"


def _kwh_text(centi: int) -> str:
    return f"{centi // 100}.{centi % 100:02d}"


def household_sizes(seed: int) -> list:
    """Household size per home (index 0 = home "1"); fixed by the seed."""
    rng = random.Random(seed * 7919 + 1)
    return [rng.randint(1, 5) for _ in range(HOMES)]


def energy_batch(seed: int, index: int, rows: int, sizes: list):
    """One raw CSV batch and its tally.

    Returns (csv_text, tally). The tally counts rows, valid and rejected
    rows, and, over the valid rows only, row counts and kWh sums in
    hundredths (exact integers) per home, per (home, month), per
    appliance and per season.
    """
    rng = random.Random(f"energy:{seed}:{index}")
    dirty = set(rng.sample(range(rows), rows // DIRTY_EVERY))
    lines = [HEADER]
    home, home_month, appliance, seasons = {}, {}, {}, {}
    valid = 0
    for i in range(rows):
        h = rng.randint(1, HOMES)
        a = APPLIANCES[rng.randrange(len(APPLIANCES))]
        centi = rng.randint(10, 500)
        d = FIRST_DAY + timedelta(days=rng.randrange(DAYS))
        clock = f"{rng.randrange(24)}:{rng.randrange(60):02d}"
        temp = f"{rng.randint(-100, 400) / 10:.1f}"
        s = season(d)
        home_s, appl_s, kwh_s = str(h), a, _kwh_text(centi)
        if i in dirty:
            kind = DIRTY_KINDS[rng.randrange(len(DIRTY_KINDS))]
            if kind == "empty_home":
                home_s = ""
            elif kind == "bad_kwh":
                kwh_s = "n/a"
            else:
                appl_s = ""
        else:
            valid += 1
            for table, key in ((home, str(h)), (home_month, f"{h}|{d.month}"),
                               (appliance, a), (seasons, s)):
                c = table.setdefault(key, [0, 0])
                c[0] += 1
                c[1] += centi
        lines.append(",".join([home_s, appl_s, kwh_s, clock,
                               d.strftime("%d-%m-%Y"), temp, s,
                               str(sizes[h - 1])]))
    tally = {"rows": rows, "valid": valid, "rejected": rows - valid,
             "home": home, "home_month": home_month,
             "appliance": appliance, "season": seasons}
    return "\n".join(lines) + "\n", tally


def write_energy(seed: int, out_dir: str, batches: int, rows: int) -> dict:
    """Write `batches` CSV files plus `tallies.json` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = household_sizes(seed)
    tallies = []
    for b in range(batches):
        text, tally = energy_batch(seed, b, rows, sizes)
        name = f"batch_{b:05d}.csv"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8",
                  newline="") as f:
            f.write(text)
        tally["file"] = name
        tally["bytes"] = len(text.encode("utf-8"))
        tallies.append(tally)
    meta = {"seed": seed, "rows_per_batch": rows, "dirty_every": DIRTY_EVERY,
            "first_day": FIRST_DAY.isoformat(), "days": DAYS,
            "batches": tallies}
    with open(os.path.join(out_dir, "tallies.json"), "w",
              encoding="utf-8") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def documents(seed: int, n_docs: int, pool: int) -> list:
    """A resample with replacement, under fresh doc_ids, of a seeded pool
    of `pool` documents. Rows are (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(f"docs:{seed}")
    langs = [l for l, _ in LANGS]
    weights = [w for _, w in LANGS]
    base = []
    for i in range(pool):
        if i >= NEAR_DUP_EVERY and rng.randrange(NEAR_DUP_EVERY) == 0:
            text = base[rng.randrange(i)][0] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(10, 100)))
        base.append((text, rng.choices(langs, weights)[0]))
    rows = []
    for doc_id in range(n_docs):
        text, lang = base[rng.randrange(pool)]
        rows.append((doc_id, text, lang, f"src{doc_id % SOURCES}", len(text)))
    return rows


def write_documents(seed: int, out_dir: str, n_docs: int, pool: int) -> str:
    """Write `documents.parquet` (doc_id BIGINT, text, lang, source
    VARCHAR, n_chars BIGINT) into `out_dir`; returns its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*documents(seed, n_docs, pool)))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    return path
