"""Open-loop change-file writer for ``cdc_trickle``, run as its own process.

    python3 trickle_gen.py <plan.json> <source_dir> <log.json>

The plan is a list of ``[due_epoch_s, file_name, [line, ...]]``. Each file is
written (atomically) when it falls due, whatever the pipeline is doing; the
log records when each write actually finished, so the benchmark can report
how late the generator ran.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_path: str, source_dir: str, log_path: str) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    written = []
    for due, name, lines in plan:
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(source_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(source_dir, name))
        written.append([name, due, time.time()])
    with open(log_path, "w") as f:
        json.dump(written, f)


if __name__ == "__main__":
    main(*sys.argv[1:4])
