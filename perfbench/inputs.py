"""Seeded benchmark inputs.

Two kinds of input, both derived only from ``(seed, scale)``:

- the ten fixture tables, written by ``scripts/gen_fixtures.build`` with
  that module's ``SEED`` set to the benchmark seed;
- ``n_files`` single-object person JSON files in the reference's input
  shape, mixing the input classes the reference's conversion has to
  handle: clean records, unknown keys (dropped), missing keys
  (zero-filled) and type-mismatched records (the whole file is skipped).

Inputs are cached under ``<checkout>/.perfbench/inputs/`` keyed by
``(seed, scale factor, file count, generator source digest)`` and are never generated inside a
timed region. ``python3 perfbench/inputs.py SEED SF FILES CPUS OUT``
generates one set.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

FIRST_NAMES = (
    "Jon", "AMY", "KIM", "Ola", "Raj", "Mei", "Ivan", "Lea", "Tom", "Zoe",
    "Ana", "Yusuf", "Bea", "Kofi", "Lin", "Omar",
)
NATIONALITIES = ("CM", "AC", "DE", "IN", "BR", "JP", "NG", "FR", "US", "VN")
EXTRA_KEYS = ("shoe_size", "email", "tags", "address")


def person_files(seed: int, n_files: int) -> dict[str, tuple[str, tuple | None]]:
    """Return ``{basename: (file text, expected converted row or None)}``.

    The expected row is the reference's ``toParquet`` output
    ``(id, name, nationality, age)``; ``None`` marks a type-mismatched
    record the conversion must skip. Each input class has a fixed share of
    the files, so every seed converts the same number of valid files; the
    seed picks which files and their contents."""
    rng = random.Random(seed)
    kinds = (["unknown"] * (n_files * 15 // 100) + ["missing"] * (n_files * 15 // 100)
             + ["mismatch"] * (n_files * 10 // 100))
    kinds += ["clean"] * (n_files - len(kinds))
    rng.shuffle(kinds)
    out: dict[str, tuple[str, tuple | None]] = {}
    for i, kind in enumerate(kinds):
        rec = {
            "ID": str(rng.randrange(1, 10**6)),
            "name": rng.choice(FIRST_NAMES),
            "nationality": rng.choice(NATIONALITIES),
            "age": rng.randrange(0, 100),
        }
        if kind == "unknown":  # dropped by the fixed schema
            for key in rng.sample(EXTRA_KEYS, rng.randrange(1, 3)):
                rec[key] = rng.randrange(1000) if key == "shoe_size" else "x"
        elif kind == "missing":  # zero-filled, never null
            for key in rng.sample(("ID", "name", "nationality", "age"),
                                  rng.randrange(1, 3)):
                del rec[key]
        expected: tuple | None = (
            rec.get("ID", ""),
            rec.get("name", ""),
            rec.get("nationality", ""),
            rec.get("age", 0),
        )
        if kind == "mismatch":  # the record, and so the file, is skipped
            rec["age"] = "not-a-number"
            expected = None
        out[f"person{i:05d}.json"] = (json.dumps(rec, indent=1) + "\n", expected)
    return out


def write_person_files(seed: int, n_files: int, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for name, (text, _) in person_files(seed, n_files).items():
        with open(os.path.join(dst, name), "w") as fh:
            fh.write(text)


def ensure(root: str, seed: int, sf: float, n_files: int, cpus: int) -> str:
    """Return the input directory for ``(seed, sf, n_files)``, generating
    it on a miss in a child process, so the measuring process starts
    equally cold whether or not the inputs were cached."""
    out = os.path.join(root, ".perfbench", "inputs",
                       f"sf{sf}_f{n_files}_s{seed}_{_generator_digest(root)}")
    if not os.path.exists(os.path.join(out, "DONE")):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(seed), str(sf),
             str(n_files), str(cpus), out],
            check=True, stdout=sys.stderr,
        )
    return out


def _generator_digest(root: str) -> str:
    """Short digest of the generators' source, so a cached input set is
    never reused after either generator changes."""
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__),
                 os.path.join(root, "scripts", "gen_fixtures.py")):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def _generate(seed: int, sf: float, n_files: int, cpus: int, out: str) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    import gen_fixtures

    from run import stop_spark

    from json_parquet_convertor_spark.session import get_spark

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    gen_fixtures.SEED = seed
    spark = get_spark(app_name="perfbench-inputs", cpus=cpus)
    try:
        gen_fixtures.build(spark, os.path.join(tmp, "tables"), sf)
    finally:
        stop_spark(spark)
    write_person_files(seed, n_files, os.path.join(tmp, "persons"))
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


if __name__ == "__main__":
    seed, sf, n_files, cpus, out = sys.argv[1:]
    _generate(int(seed), float(sf), int(n_files), int(cpus), out)
