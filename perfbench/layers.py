"""Per-layer metric names and their reduction over a run's rounds."""
import hashlib
import statistics

STAT_METRICS = [("wall_s", "s"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"),
                ("spill_mb", "MB"), ("jobs", "count"), ("cpu_util", "ratio")]
LAYERS = ["extract", "graph.materialize", "algo.cc", "algo.pagerank", "algo.bfs",
          "measures", "canon.canonicalize", "canon.incremental", "canon.apply",
          "graph.churn", "io.commit"]
EXTRA = [("io.commit.bytes_mb", "MB"), ("io.write_amp", "ratio"), ("io.store_mb", "MB"),
         ("setup.wall_s", "s"), ("pass.wall_s", "s"), ("pass.jit_cpu_s", "s"),
         ("pass.gc_cpu_s", "s"), ("build.wall_s", "s"),
         ("daily.wall_s", "s"), ("resume.wall_s", "s")]
QUERIES = ["doc_dedup_clusters"]
QUERY_METRICS = [("wall_s", "s"), ("jobs", "count"), ("shuffle_mb", "MB")]


def names():
    """Every per-layer metric as (name, unit), in a fixed order."""
    out = [(f"{l}.{m}", u) for l in LAYERS for m, u in STAT_METRICS]
    out += EXTRA
    out += [(f"queries.{q}.{m}", u) for q in QUERIES for m, u in QUERY_METRICS]
    return out


def per_layer(rounds):
    """Median over rounds of each per-layer metric; 0 where a layer did no work."""
    return {n: {"value": statistics.median(r["layers"].get(n, 0.0) for r in rounds), "unit": u}
            for n, u in names()}


# A traced round runs the benchmark's copy of these Pipeline bodies with a
# span around each call (KgBench.KgBuildDaily.build, incrementalBuildTraced),
# while an untraced round calls them. Digests of the bodies as copied; when a
# body changes, the copy must change with it and the digest here too.
PIPELINE = "src/main/scala/graft/Pipeline.scala"
COPIED_BODIES = {
    "runResumable": "b1208ffcedef584b",
    "incrementalBuild": "3f7a5218d6996e38",
}


def method_body(source, name):
    """The lines of `def <name>(` through its closing brace at the same indent."""
    lines = source.splitlines()
    start = next(i for i, l in enumerate(lines) if l.lstrip().startswith(f"def {name}("))
    indent = lines[start][:len(lines[start]) - len(lines[start].lstrip())]
    end = next(i for i in range(start + 1, len(lines)) if lines[i] == indent + "}")
    code = (l.strip() for l in lines[start:end + 1])
    return "\n".join(l for l in code if l and not l.startswith("//"))


def body_digests(root):
    """Digest of each copied Pipeline body as it is now in `root`."""
    with open(f"{root}/{PIPELINE}") as f:
        source = f.read()
    return {n: hashlib.sha256(method_body(source, n).encode()).hexdigest()[:16]
            for n in COPIED_BODIES}
