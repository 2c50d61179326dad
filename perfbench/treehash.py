"""Compile a project in a fresh interpreter, as one `compile` CLI invocation does.

    python3 perfbench/treehash.py <project_dir> <out_dir> <env>

Prints one JSON line: `import_s`, the seconds importing the engine took;
`compile_s`, the seconds the compile pass then took; and `hash`, the
generated tree's hash.  project_compile runs this under several
PYTHONHASHSEED values: the generated tree must not depend on the
interpreter's string-hash seed.
"""

import time

T0 = time.perf_counter()

import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lakehouse_plumber_spark  # noqa: E402, F401

IMPORT_S = time.perf_counter() - T0

import json  # noqa: E402

import yaml  # noqa: E402

from probes import Tracer  # noqa: E402
from workloads import _tree_hash, compile_pass  # noqa: E402

if __name__ == "__main__":
    project, out_dir, env = sys.argv[1:4]
    with open(os.path.join(project, "substitutions", f"{env}.yaml")) as f:
        tokens = yaml.safe_load(f)[env]
    r = compile_pass(project, out_dir, tokens, Tracer(False))
    print(json.dumps({"import_s": IMPORT_S, "compile_s": r["wall"], "hash": _tree_hash(out_dir)}))
