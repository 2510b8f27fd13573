"""Diff the ``parse_pdf`` payloads a test run produces on two checkouts.

The writer cannot make every font and CMap shape the parser reads
(vertical fonts, national CMaps, embedded codespaces, Type3, hand-built
malformed files), so the test suites' own inputs are the widest corpus
of them. As a pytest plugin this module wraps
``libpdf_spark.pdfmini.parse_pdf`` and logs, per call, the md5 of its
input and password, the md5 of ``repr`` of its payload (or the error it
raised) and the test that made the call. Run it on both sides, then
compare the logs: only inputs both runs parsed are compared, since
hypothesis-generated inputs differ between runs.

    for side in parent change; do
      REPO=$CHANGE; [ $side = parent ] && REPO=$PARENT
      (cd $REPO && PYTHONPATH=$CHANGE/scripts:$REPO python3 -m pytest \\
         tests/test_pdfmini.py -q -p no:cacheprovider -p payload_diff \\
         --payload-log $OUT/payloads-$side.jsonl)
    done
    python3 $CHANGE/scripts/payload_diff.py $OUT/payloads-parent.jsonl \\
        $OUT/payloads-change.jsonl

The comparison prints one JSON line per differing input (the tests
that parsed it and both results) and a summary line; it exits 1 when
any input differs.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def pytest_addoption(parser):
    parser.addoption(
        "--payload-log", default=None,
        help="append one JSON line per parse_pdf call to this file",
    )


def pytest_configure(config):
    path = config.getoption("--payload-log")
    if not path:
        return
    from libpdf_spark import pdfmini

    inner = pdfmini.parse_pdf
    log = open(path, "w")
    config.add_cleanup(log.close)

    def parse_pdf(data, password=b""):
        key = hashlib.md5(bytes(data) + b"\x00" + repr(password).encode()).hexdigest()
        try:
            out = inner(data, password)
            result = hashlib.md5(repr(out).encode()).hexdigest()
            return out
        except Exception as exc:
            result = f"ERR {type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            test = os.environ.get("PYTEST_CURRENT_TEST", "").rsplit(" ", 1)[0]
            log.write(json.dumps({"input": key, "result": result, "test": test}) + "\n")

    pdfmini.parse_pdf = parse_pdf


def _read(path: str) -> dict[str, tuple[set, set]]:
    seen: dict[str, tuple[set, set]] = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            results, tests = seen.setdefault(rec["input"], (set(), set()))
            results.add(rec["result"])
            tests.add(rec["test"])
    return seen


def main(parent_log: str, change_log: str) -> int:
    parent, change = _read(parent_log), _read(change_log)
    shared = sorted(parent.keys() & change.keys())
    differ = 0
    for key in shared:
        if parent[key][0] != change[key][0]:
            differ += 1
            print(json.dumps({
                "input": key,
                "tests": sorted(parent[key][1] | change[key][1]),
                "parent": sorted(parent[key][0]),
                "change": sorted(change[key][0]),
            }))
    print(json.dumps({
        "parent_inputs": len(parent), "change_inputs": len(change),
        "shared": len(shared), "differ": differ,
    }))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
