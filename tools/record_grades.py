"""Record the code fingerprints a driver grading round attests.

    python tools/record_grades.py CORRECTNESS_r19.json

Run it on the commit the driver graded. Each registered name green in
the file gets its current fingerprint; each name it grades red loses
its record (see ``queries/registry.py:grading_order``).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from ballista_extensions_spark.queries import registry  # noqa: E402


def record(correctness_path: str, root: str = registry.REPO_ROOT) -> dict[str, str]:
    recorded = registry.load_recorded(root)
    with open(correctness_path) as f:
        for name, row in json.load(f).items():
            if name in registry.QUERIES and registry.grade(row):
                recorded[name] = registry.code_fingerprint(name)
            else:
                recorded.pop(name, None)
    with open(os.path.join(root, registry.RECORDED), "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
    return recorded


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(f"{len(record(sys.argv[1]))} names recorded")
