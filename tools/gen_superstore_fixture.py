#!/usr/bin/env python3
"""Write the small Superstore extract pair used by the pipeline specs.

    python3 tools/gen_superstore_fixture.py

Calls generate() of perfbench/gen_superstore.py (imported, never modified)
with a fixed seed and order count, and writes under
src/test/resources/superstore/:

  day1.csv    day-1 extract in the reference byte format (every documented
              quirk: trailing ';' before CRLF, fully-quoted rows with doubled
              inner quotes, quoted embedded commas, cp1252 0xA0 NBSP, CRLF,
              M/d/yyyy dates, duplicate order lines)
  day2.csv    the day-2 FULL refreshed extract (new orders, drifted customer
              and product attributes, every day-1 line re-sent)
  truth.json  the generator's ground truth for both days (line counts, dedup
              survivors, fact rows, dim cardinalities, SCD2 changes)

The same command always writes the same bytes.
"""
import json
import os
import re
import sys

sys.dont_write_bytecode = True  # leave perfbench/ untouched
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen_superstore as gen  # noqa: E402

SEED = 7
ORDERS = 100
OUT = os.path.join(ROOT, "src", "test", "resources", "superstore")


def quirks(raw, n_lines, survivors):
    """The documented quirks this extract must carry, each as a bool."""
    body = raw.split(b"\r\n")[1:-1]
    wrapped = [ln for ln in body if ln.startswith(b'"')]
    return {
        "trailing semicolon": all(ln.endswith(b";") for ln in raw.split(b"\r\n")[:-1]),
        "fully-quoted rows": len(wrapped) > 0,
        "doubled inner quotes": any(b'""' in ln for ln in wrapped),
        "embedded comma": any(re.search(rb',"[^"]*, [^"]*",', ln) for ln in body),
        "cp1252 NBSP": b"\xa0" in raw,
        "M/d/yyyy dates": re.search(rb",\d/\d{1,2}/\d{4},", raw) is not None,
        "duplicate lines": n_lines > survivors,
    }


def main():
    d1, d2, truth, (n1, n2) = gen.generate(SEED, ORDERS)
    etl = truth.etl(n1, n2)
    for day, raw, n in (("day1", d1, n1), ("day2", d2, n2)):
        missing = [q for q, ok in quirks(raw, n, etl[day]["dedup_survivors"]).items()
                   if not ok]
        if missing:
            sys.exit(f"{day}: seed {SEED} lacks {missing}; pick another seed")
    os.makedirs(OUT, exist_ok=True)
    for name, raw in (("day1.csv", d1), ("day2.csv", d2)):
        with open(os.path.join(OUT, name), "wb") as f:
            f.write(raw)
    keep = {day: {k: etl[day][k] for k in
                  ("lines", "dedup_survivors", "fact_rows", "dims")}
            for day in ("day1", "day2")}
    keep["day2"]["scd2_changed"] = etl["day2"]["scd2_changed"]
    with open(os.path.join(OUT, "truth.json"), "w") as f:
        json.dump(keep, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}: day1 {n1} lines, day2 {n2} lines")


if __name__ == "__main__":
    main()
