"""Regenerate the benchmark's stored corpus from the repository sources.

The interchange workload reads only the files in this directory, so an
edit under ``tests/`` or to the query registry cannot change the workload
silently; a change is made on purpose by running this script and
committing its output:

    python3 perfbench/corpus/regen.py

It writes
  * ``declared_sql.json``: the SQL text behind the 17 ``q*`` entries of
    ``__spark_entry__`` (``_Q01`` and ``_SQL``), in registry order;
  * ``fuzz_sql.json``: ``Gen(s).query()`` of ``tests/test_sql_fuzz.py`` for
    ``s`` in ``range(POOL)`` minus ``EXCLUDED``; each run draws its fuzz
    plans from this pool with its ``--seed``;
  * ``wire_goldens/*.bin``: copies of ``tests/wire_fixtures/*.bin``, checked
    against the sha256 in that directory's ``manifest.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

POOL = 200
# Seeds whose query the program gets wrong on every run; kept out of the
# pool so the failed share does not depend on the draw (see CHANGES.md).
EXCLUDED = {
    24: "an all-NULL VALUES column is typed void directly but string after "
        "roundtrip",
}
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def main() -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from tests.test_sql_fuzz import Gen

    declared = {"q01_pricing_summary": entry._Q01, **entry._SQL}
    declared = {n: declared[n].strip() for n in entry.queries()
                if n in declared}
    with open(os.path.join(HERE, "declared_sql.json"), "w") as f:
        json.dump(declared, f, indent=1)
        f.write("\n")

    pool = [Gen(s).query() for s in range(POOL) if s not in EXCLUDED]
    with open(os.path.join(HERE, "fuzz_sql.json"), "w") as f:
        json.dump(pool, f, indent=1)
        f.write("\n")

    src = os.path.join(ROOT, "tests", "wire_fixtures")
    with open(os.path.join(src, "manifest.json")) as f:
        manifest = json.load(f)["plans"]
    dst = os.path.join(HERE, "wire_goldens")
    os.makedirs(dst, exist_ok=True)
    for meta in manifest.values():
        with open(os.path.join(src, meta["file"]), "rb") as f:
            raw = f.read()
        if hashlib.sha256(raw).hexdigest() != meta["sha256"]:
            raise SystemExit(f"{meta['file']}: sha256 differs from manifest")
        shutil.copyfile(os.path.join(src, meta["file"]),
                        os.path.join(dst, meta["file"]))
    print(f"{len(declared)} declared, {len(pool)} fuzz, "
          f"{len(manifest)} goldens")


if __name__ == "__main__":
    main()
