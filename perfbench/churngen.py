"""Seeded churn-CSV generator for the warehouse workloads.

Writes IBM-Telco-shaped ingest files (FIXTURES.md §1 variant A, the
same header as ``tests/conftest.py``) and returns the counts a correct
``run_warehouse`` must report for them. Every dirty row carries exactly
one defect from FIXTURES.md §5, so each one is rejected once:

- ``missing_id``: blank customer_id
- ``neg_tenure``: tenure_in_months < 0
- ``bad_tenure``: non-numeric tenure
- ``neg_charges``: monthly_charges_amount < 0
- ``bad_gender``: gender outside {Male, Female}
- ``dup_pair``: one customer_id on two rows of the same delivery (both
  rows rejected); in a multi-file day the two rows sit in different files

Rows whose key is already in bronze (``existing``) are clean rows that
the staging anti-dedup drops silently (``dup_vs_bronze``).

The same seed gives byte-identical files: all randomness comes from one
``random.Random(seed)`` and rows are written in a fixed order.
"""

from __future__ import annotations

import os
import random

HEADER = (
    "Customer ID,Gender,Senior Citizen,Partner,Dependents,Country,State,City,"
    "Zip Code,Lat Long,Latitude,Longitude,Phone Service,Multiple Lines,"
    "Internet Service,Online Security,Online Backup,Device Protection,"
    "Tech Support,Streaming TV,Streaming Movies,Paperless Billing,"
    "Payment Method,Contract,Tenure Months,Monthly Charges,Total Charges,"
    "Churn Label,Churn Value,Churn Score,CLTV,Churn Reason"
)

# Dirty rows per 1,000 rows, one rate per defect (2 % in total; a
# dup pair is two rows).
DIRTY_PER_MILLE = {
    "missing_id": 4,
    "neg_tenure": 4,
    "bad_tenure": 3,
    "neg_charges": 3,
    "bad_gender": 2,
    "dup_pair": 2,
}

CITIES = [
    ("Los Angeles", 90003, 33.964131, -118.272783),
    ("San Diego", 92101, 32.719, -117.1628),
    ("San Jose", 95112, 37.3531, -121.8905),
    ("Fresno", 93650, 36.8409, -119.8009),
    ("Sacramento", 95814, 38.5806, -121.4927),
    ("Oakland", 94612, 37.8087, -122.2694),
]
PAYMENTS = [
    "Electronic check",
    "Mailed check",
    "Bank transfer (automatic)",
    "Credit card (automatic)",
]
CONTRACTS = ["Month-to-month", "One year", "Two year"]
INTERNET = ["DSL", "Fiber optic", "No"]
REASONS = [
    "Competitor made better offer",
    "Attitude of support person",
    "Moved",
    "Price too high",
    "Network reliability",
]


def customer_id(i: int) -> str:
    return f"{i:07d}-BNCH"


def _row(rng: random.Random, cid: str, defect: str | None = None) -> str:
    city, zipc, lat, lon = CITIES[rng.randrange(len(CITIES))]
    internet = INTERNET[rng.randrange(3)]
    if internet == "No":
        services = ["No internet service"] * 6
    else:
        services = [rng.choice(("Yes", "No")) for _ in range(6)]
    phone = rng.choice(("Yes", "No"))
    lines = rng.choice(("Yes", "No")) if phone == "Yes" else "No phone service"
    tenure = rng.randrange(1, 73)
    monthly = round(rng.uniform(18.25, 118.75), 2)
    total = round(monthly * tenure, 2)
    churn = rng.random() < 0.26
    gender = rng.choice(("Male", "Female"))
    tenure_s, monthly_s = str(tenure), f"{monthly:.2f}"
    if defect == "neg_tenure":
        tenure_s = str(-rng.randrange(1, 12))
    elif defect == "bad_tenure":
        tenure_s = "abc"
    elif defect == "neg_charges":
        monthly_s = f"{-monthly:.2f}"
    elif defect == "bad_gender":
        gender = "Unknown"
    return ",".join(
        [
            "" if defect == "missing_id" else cid,
            gender,
            rng.choice(("Yes", "No")),
            rng.choice(("Yes", "No")),
            rng.choice(("Yes", "No")),
            "United States",
            "California",
            city,
            str(zipc),
            f'"{lat:.2f},{lon:.2f}"',
            f"{lat:.6f}",
            f"{lon:.6f}",
            phone,
            lines,
            internet,
            *services,
            rng.choice(("Yes", "No")),
            PAYMENTS[rng.randrange(4)],
            CONTRACTS[rng.randrange(3)],
            tenure_s,
            monthly_s,
            f"{total:.2f}",
            "Yes" if churn else "No",
            "1" if churn else "0",
            str(rng.randrange(5, 100)),
            str(rng.randrange(2000, 6500)),
            REASONS[rng.randrange(len(REASONS))] if churn else "",
        ]
    )


def _write(path: str, rows: list[str]) -> int:
    data = (HEADER + "\n" + "\n".join(rows) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def clean_rows(n: int) -> int:
    """How many of ``n`` delivered rows are clean."""
    defects = _defects(n)
    return n - len(defects) - defects.count("dup_pair")


def _defects(n: int) -> list[str]:
    """Defects for ``n`` rows at the fixed rates (rounded down)."""
    out = []
    for defect, per_mille in DIRTY_PER_MILLE.items():
        out += [defect] * (n * per_mille // 1000)
    return out


def write_delivery(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    new_start: int,
    existing: list[int] = (),
    prefix: str = "churn",
) -> dict:
    """One delivery of ``n_files`` CSVs of ``rows_per_file`` rows each.

    Clean rows get fresh keys from ``new_start`` upward, except that
    the keys in ``existing`` (already in bronze) are spread over the
    clean rows. Returns the expected run-report counts plus the
    delivery's total byte size, the next unused key and the keys of
    the rejected rows that a correction file can fix.
    """
    rng = random.Random(seed)
    n = n_files * rows_per_file
    defects = _defects(n)
    n_clean = clean_rows(n)
    n_dirty = n - n_clean
    if len(existing) > n_clean:
        raise ValueError("more existing keys than clean rows")
    next_key = new_start
    rows: list[str] = []
    for i in range(n_clean):
        if i < len(existing):
            cid = customer_id(existing[i])
        else:
            cid = customer_id(next_key)
            next_key += 1
        rows.append(_row(rng, cid))
    pairs: list[tuple[str, str]] = []
    fixable: list[int] = []
    for d in defects:
        cid = customer_id(next_key)
        if d == "dup_pair":
            pairs.append((_row(rng, cid), _row(rng, cid)))
        elif d != "missing_id":
            fixable.append(next_key)
            rows.append(_row(rng, cid, d))
        else:
            rows.append(_row(rng, cid, d))
        next_key += 1
    rng.shuffle(rows)
    files: list[list[str]] = [
        rows[k::n_files] for k in range(n_files)
    ]
    # Each dup pair straddles two files when there is more than one.
    for k, (a, b) in enumerate(pairs):
        files[k % n_files].append(a)
        files[(k + 1) % n_files].append(b)
    os.makedirs(out_dir, exist_ok=True)
    csv_bytes = 0
    for k, file_rows in enumerate(files):
        csv_bytes += _write(
            os.path.join(out_dir, f"{prefix}_{k:03d}.csv"), file_rows
        )
    return {
        "input": n,
        "rejected": n_dirty,
        "staged": n_clean - len(existing),
        "dup_vs_bronze": len(existing),
        "csv_bytes": csv_bytes,
        "next_key": next_key,
        "fixable_keys": fixable,
    }


def write_fixes(fixed_dir: str, seed: int, keys: list[int]) -> list[dict]:
    """The correction loop's two files for rejected ``keys``:
    ``fixes_a.csv`` corrects the first half; ``fixes_b.csv`` is still
    invalid (every row has a contract type outside the domain), so the
    loop rejects it whole. Returns the expected reprocess reports in
    file order."""
    rng = random.Random(seed)
    half = len(keys) // 2
    os.makedirs(fixed_dir, exist_ok=True)
    good = [_row(rng, customer_id(k)) for k in keys[:half]]
    bad = []
    for k in keys[half:]:
        row = _row(rng, customer_id(k))
        c = next(c for c in CONTRACTS if f",{c}," in row)
        bad.append(row.replace(f",{c},", ",Three year,", 1))
    _write(os.path.join(fixed_dir, "fixes_a.csv"), good)
    _write(os.path.join(fixed_dir, "fixes_b.csv"), bad)
    return [
        {"file": "fixes_a.csv", "input": len(good), "rejected": 0,
         "upserted": len(good), "status": "SUCCESS"},
        {"file": "fixes_b.csv", "input": len(bad), "rejected": len(bad),
         "upserted": None, "status": "ALL_REJECTED"},
    ]
