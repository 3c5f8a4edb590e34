"""Fixed settings of the benchmark. Changing any of them changes what is
measured: re-measure the parent commit with the new settings."""
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
# every file a run writes lives under this directory of the checkout
WORK = os.path.join(ROOT, ".bench_work")

# the generated dataset of the program's TPC-H-like schema, sf 0.01; the
# truth workload reads graft.Amplify of it, x10 (600k lineitems)
BASE_SF = 0.01
AMPLIFY_K = 10
DATA_SEED = 42
# truth queries per connected table set (30 sets of 1-4 tables); with more,
# a truth run outgrows its share of the benchmark's time
TRUTH_PER_SET = 2
ENTRIES = os.path.join(HERE, "suite_entries.txt")


def entries():
    """The `SparkEntry.queries` names the suite runs, in file order."""
    with open(ENTRIES) as f:
        return [l.split("#")[0].strip() for l in f if l.split("#")[0].strip()]
