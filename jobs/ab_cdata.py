"""Single-core no-Spark A/B of the r6 CDATA fix in core/fasthtml.py:
HEAD scan_blocks vs the r5 commit's scan_blocks, alternated in ONE
process over the identical sf0.001 page corpus (500 rendered pages)."""
import importlib.util
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import pyarrow.parquet as pq  # noqa: E402

from post_ocr_corretion_spark.core.extraction import BLOCK_TAGS, PRUNE_TAGS  # noqa: E402
from post_ocr_corretion_spark.datagen.webpages import make_page  # noqa: E402


def load(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

wt = sys.argv[1] if len(sys.argv) > 1 else "/tmp/r5wt"  # git worktree of the baseline commit
head = load(os.path.join(ROOT, "post_ocr_corretion_spark/core/fasthtml.py"), "fh_head")
r5 = load(f"{wt}/post_ocr_corretion_spark/core/fasthtml.py", "fh_r5")

t = pq.read_table("/root/testdata/sf0.001/documents.parquet").to_pylist()
pages = [make_page(int(r["doc_id"]), r["text"], r["lang"])["html"].decode("utf-8", errors="replace") for r in t]
print(f"pages: {len(pages)}", file=sys.stderr)

# identical output check first
for p in pages:
    assert head.scan_blocks(p, PRUNE_TAGS, BLOCK_TAGS) == r5.scan_blocks(p, PRUNE_TAGS, BLOCK_TAGS)

def run(mod):
    t0 = time.perf_counter()
    n = 0
    for p in pages:
        b = mod.scan_blocks(p, PRUNE_TAGS, BLOCK_TAGS)
        n += 0 if b is None else len(b)
    return round(time.perf_counter() - t0, 4), n

for mod, tag in [(head, "warm"), (r5, "warm")]:
    run(mod)
for i in range(5):
    wr5, _ = run(r5)
    wh, _ = run(head)
    print(f"pass {i+1}: r5 {wr5}s  head {wh}s")
