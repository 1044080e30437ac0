"""Dev profiling: measure python-side compute seconds inside the resolve
UDF at two parallelism levels (writes /tmp/rtimes_{n}.txt per run)."""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import pandas as pd  # noqa: E402

from careers_spark.operators import coherence as CO  # noqa: E402
from careers_spark.operators.model import KGModel  # noqa: E402
from careers_spark.session import get_spark  # noqa: E402

out = open("/tmp/resolve_scale.txt", "w")

for cpus in (8, 32):
    spark = get_spark(
        f"rp{cpus}",
        cpus=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    cand = spark.read.parquet("/tmp/kg_scale_run_8/candidates")
    turns = spark.read.parquet("/tmp/kg_scale_run_8/transcripts")
    # the run's mention scan: its pattern hits and turn terms ride the
    # cogroup beside the candidates
    mentions = spark.read.parquet("/tmp/kg_scale_run_8/mentions")
    # the candidates table holds anchor priors: resolve scores them by
    # TF-IDF context cosine from the scan's turn terms and doc freqs
    wdf = spark.read.parquet("/tmp/kg_scale_run_8/word_doc_freq")
    ctx = spark.read.parquet("/tmp/kg_scale_dict/dict_context_vectors")
    # the candidates table is dictionary-coded: resolve needs the
    # model's name universes (as id dims) to join names back
    model = KGModel.build(
        spark.read.parquet("/tmp/kg_scale_dict/dict_surface_forms"), ctx
    )
    surface_dim, topic_dim = CO.build_id_dims(
        spark, model.surface_names, model.topic_names
    )

    # monkeypatch fn wrapper to time python work per conversation
    orig_resolve = CO._resolve_conv
    tfile = f"/tmp/rtimes_{cpus}.txt"
    open(tfile, "w").close()

    import careers_spark.operators.coherence as comod

    def timed(*args, _o=orig_resolve, **kw):
        t0 = time.perf_counter()
        r = _o(*args, **kw)
        with open(tfile, "a") as f:
            f.write(f"{os.getpid()} {time.perf_counter() - t0}\n")
        return r

    comod._resolve_conv = timed
    t0 = time.monotonic()
    n = CO.resolve(
        cand, turns, mentions, model, surface_dim, topic_dim, word_doc_freq=wdf,
    ).count()
    wall = time.monotonic() - t0
    comod._resolve_conv = orig_resolve
    print(f"cpus={cpus} wall={wall:.1f}s rows={n}", file=out, flush=True)
    spark.stop()
out.close()
