"""Seeded sensor-CSV generator for the ingest workloads.

Every file is a reference-format sensor CSV
(`timestamp,sensor_id,temperature,humidity,pressure`). The seed decides
which files are dirty, which of the reference generator's six error
classes each bad row uses, where the bad rows sit, and which files carry
a reordered header. The generator also returns the routing and row
accounting the pipeline must reproduce, so the benchmark never derives
its expectations from the program's own output.
"""
import os
import random

HEADER = ["timestamp", "sensor_id", "temperature", "humidity", "pressure"]
SENSORS = ["Kaggle_Sim_A01", "Kaggle_Sim_B02", "Kaggle_Sim_C03",
           "Weather_Station_Main", "Kaggle_Weather_01", "Kaggle_Weather_02"]

# The reference generator's row-level error classes
# (test_csv_files_generator.py:73-90), each as a row-mutation.
ERROR_CLASSES = [
    "null_key_sensor_id",
    "null_key_timestamp",
    "bad_type_temp",
    "out_of_range_temp_low",
    "out_of_range_temp_high",
    "null_reading_humidity",
]


def _valid_row(rng, t):
    return [
        f"2025-05-26 {t // 3600 % 24:02d}:{t // 60 % 60:02d}:{t % 60:02d}",
        rng.choice(SENSORS),
        f"{rng.uniform(-5.0, 35.0):.2f}",
        f"{rng.uniform(0.20, 0.99):.2f}",
        f"{rng.uniform(980.0, 1050.0):.2f}",
    ]


def _corrupt(rng, row, kind):
    if kind == "null_key_sensor_id":
        row[1] = ""
    elif kind == "null_key_timestamp":
        row[0] = "NOT_A_VALID_TIMESTAMP"
    elif kind == "bad_type_temp":
        row[2] = "abc"
    elif kind == "out_of_range_temp_low":
        row[2] = f"{-50.0 - rng.uniform(5.0, 20.0):.2f}"
    elif kind == "out_of_range_temp_high":
        row[2] = f"{50.0 + rng.uniform(5.0, 20.0):.2f}"
    elif kind == "null_reading_humidity":
        row[3] = ""
    else:
        raise ValueError(kind)
    return row


def _pick(rng, n, frac):
    """Exactly round(n * frac) distinct indices (at least one when
    frac > 0), so every seed yields the same workload mix."""
    k = min(n, max(1 if frac > 0 else 0, round(n * frac)))
    return set(rng.sample(range(n), k))


def generate(out_dir, seed, n_files, rows, dirty_frac=0.0, reorder_frac=0.0,
             prefix="f"):
    """Write n_files CSVs of `rows` data rows each into out_dir.

    Returns one dict per file, in drop order:
      name, rows, bad_rows, error_classes, reordered,
      valid_rows (rows that pass validation),
      groups (distinct sensor_ids among the valid rows).
    """
    rng = random.Random(f"sensors:{seed}:{prefix}")
    os.makedirs(out_dir, exist_ok=True)
    dirty = _pick(rng, n_files, dirty_frac)
    reordered = _pick(rng, n_files, reorder_frac)
    manifest = []
    for f in range(n_files):
        name = f"{prefix}{f:05d}.csv"
        bad_at = {}
        if f in dirty:
            # 1-3 bad rows per dirty file, the reference generator's cap.
            for pos in rng.sample(range(rows), min(rows, rng.randint(1, 3))):
                bad_at[pos] = rng.choice(ERROR_CLASSES)
        order = list(range(5))
        if f in reordered:
            while order == list(range(5)):
                rng.shuffle(order)
        t = rng.randrange(0, 86_400)
        lines = [",".join(HEADER[i] for i in order)]
        sensors = set()
        for r in range(rows):
            t += rng.randint(1, 30)
            row = _valid_row(rng, t)
            if r in bad_at:
                row = _corrupt(rng, row, bad_at[r])
            else:
                sensors.add(row[1])
            lines.append(",".join(row[i] for i in order))
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        manifest.append({
            "name": name,
            "rows": rows,
            "bad_rows": len(bad_at),
            "error_classes": sorted(set(bad_at.values())),
            "reordered": f in reordered,
            "valid_rows": rows - len(bad_at),
            "groups": len(sensors),
        })
    return manifest


def expectations(manifest, metrics=3):
    """Routing and sink accounting the pipeline must reproduce.

    Strict mode quarantines every file with a bad row. The aggregate
    table holds one row per (file, sensor_id, metric) over committed rows.
    """
    processed, quarantined = set(), set()
    raw_rows = agg_rows = 0
    for m in manifest:
        if m["bad_rows"] > 0:
            quarantined.add(m["name"])
        else:
            processed.add(m["name"])
            raw_rows += m["valid_rows"]
            agg_rows += m["groups"] * metrics
    return {"processed": processed, "quarantined": quarantined,
            "raw_rows": raw_rows, "agg_rows": agg_rows}
