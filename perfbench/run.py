"""Run one benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 10 --trace 0

Exits non-zero without a result when the engine (``gdal_spark``) is
not in the working directory.
"""

import os
import sys

if __name__ == "__main__":
    root = os.getcwd()
    sys.path.insert(0, root)
    if not os.path.isfile(os.path.join(root, "gdal_spark", "__init__.py")):
        print("perfbench: no gdal_spark package in the working directory", file=sys.stderr)
        sys.exit(2)
    from perfbench.harness import main

    sys.exit(main(sys.argv[1:]))
