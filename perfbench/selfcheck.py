"""Self-check: a wrong answer and a refused request count as failures.

    python3 perfbench/selfcheck.py

Runs a short ``olap_serve`` with two planted faults: the oracle answer
of ``tpch_q1`` is corrupted, so every ``tpch_q1`` request is a wrong
answer, and a statement the server refuses replaces one open-loop
request and joins the closed loop's statements.
Passes when the result line reports exactly those requests as failed
and ``correct`` false.
"""

import contextlib
import io
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import olap_serve  # noqa: E402
import run  # noqa: E402

PLANTED = "tpch_q1"
REFUSED = "SELECT * FROM no_such_table"


def main() -> int:
    answers, schedule = olap_serve.expected_answers, olap_serve.schedule
    olap_serve.expected_answers = lambda sf_dir, names: {
        **answers(sf_dir, set(names) - {"refused"}),
        PLANTED: ("planted wrong answer", -1), "refused": ("", 0)}

    def planted_schedule(seed, seconds):
        reqs, lengths = schedule(seed, seconds)
        olap_serve.STATEMENTS["refused"] = REFUSED
        victim = next(r for r in reqs if r["stmt"] != PLANTED)
        victim["stmt"] = "refused"
        return reqs, lengths

    olap_serve.schedule = planted_schedule
    sys.argv = ["run.py", "--workload", "olap_serve", "--seed", "7",
                "--seconds", "6", "--trace", "0"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.main()
    lines = buf.getvalue().strip().splitlines()
    report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
    # every request of either statement fails, in both loops
    count = report["per_statement_count"]
    want = count.get(PLANTED, 0) + count.get("refused", 0)
    ok = (not result["correct"] and result["failed"] == want
          and any("wrong answer" in e for e in report["errors"])
          and any("SQL error" in e for e in report["errors"]))
    print(json.dumps({"selfcheck": "pass" if ok else "FAIL", "expected_failed": want,
                      "result": result, "errors": report["errors"]}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
