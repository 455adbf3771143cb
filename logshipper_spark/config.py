"""Declarative pipeline configuration: YAML topology → validated config
→ runnable Spark pipeline.

Mirrors the reference's config surface (internal/config/config.go:29-57
component maps, internal/config/load.go:10-24 env expansion,
internal/config/validate.go:5-43 topology validation): ``sources`` feed
``transforms`` feed ``sinks`` over explicit ``inputs`` edges, with
``resolve`` / ``graph`` / ``anomaly`` engine sections. Validation errors
use the reference's exact messages so config files fail identically.

Spark mapping: sources become DataFrame builders unioned per transform
(the reference's fan-in, S4); a ``remap-lite`` transform compiles to the
existing ``transform.remap`` chain; sinks become routing rules for
``pipeline.run_batch`` — a sink's optional ``filter`` predicate refines
its input edge (the reference's sinks take everything their transform
emits, i.e. predicate ``true``).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

try:
    import yaml
except ImportError:  # pragma: no cover - baked into this environment
    yaml = None


class ConfigError(ValueError):
    """Topology validation failure (reference: validate.go error paths)."""


def expand_env(text: str) -> str:
    """``${VAR}`` / ``$VAR`` expansion with Go ``os.ExpandEnv``
    semantics: unset variables expand to the empty string (Python's
    ``os.path.expandvars`` would leave them verbatim), and Go's
    shell-special single-char names (``$$ $* $# $@ $! $? $0``-``$9``)
    consume exactly one character and expand to that (virtually always
    unset) variable — so ``$1abc`` → ``abc``, matching
    ``os.ExpandEnv``'s getShellName. A ``$`` followed by nothing
    expandable stays verbatim, as in Go."""
    def sub(m: re.Match) -> str:
        name = next(g for g in m.groups() if g is not None)
        return os.environ.get(name, "")

    # alternation order: brace-wrapped word, brace-wrapped shell-special
    # (Go's getShellName special-cases "${" + special + "}": ${*} → env
    # "*" → ""), bare shell-special, bare word
    return re.sub(
        r"\$\{(\w+)\}|\$\{([*#$@!?])\}|\$([*#$@!?0-9])|\$([A-Za-z_]\w*)",
        sub,
        text,
    )


@dataclass
class SourceConfig:
    type: str = ""
    service: str = ""
    path: str = ""
    container_id: str = ""
    n_turns: int = 0  # type: generate (this engine's deterministic source)


@dataclass
class TransformConfig:
    type: str = "remap-lite"
    inputs: list[str] = field(default_factory=list)
    add_fields: dict[str, str] = field(default_factory=dict)
    case: str = ""


@dataclass
class SinkConfig:
    type: str = "stdout"
    inputs: list[str] = field(default_factory=list)
    pretty: bool = False
    filter: str = "true"  # routing predicate (engine extension, K3)
    priority: int | None = None  # None → file order (explicit 0 is honored)


@dataclass
class Config:
    sources: dict[str, SourceConfig] = field(default_factory=dict)
    transforms: dict[str, TransformConfig] = field(default_factory=dict)
    sinks: dict[str, SinkConfig] = field(default_factory=dict)
    resolve: dict = field(default_factory=dict)
    graph: dict = field(default_factory=dict)
    anomaly: dict = field(default_factory=dict)

    # ── validate.go:5-43, byte-compatible error messages ──
    def validate(self) -> None:
        if not self.sources:
            raise ConfigError("at least one source is required")
        if not self.sinks:
            raise ConfigError("at least one sink is required")
        for name, t in self.transforms.items():
            if not t.inputs:
                raise ConfigError(f"transform [{name}]: inputs list is empty")
            for inp in t.inputs:
                if not self._component_exists(inp):
                    raise ConfigError(
                        f"transform [{name}]: refers to unknown input '{inp}'"
                    )
        for name, s in self.sinks.items():
            if not s.inputs:
                raise ConfigError(f"sink [{name}]: inputs list is empty")
            for inp in s.inputs:
                if not self._component_exists(inp):
                    raise ConfigError(f"sink [{name}]: refers to unknown input '{inp}'")

    def _component_exists(self, name: str) -> bool:
        return name in self.sources or name in self.transforms


def _pick(d: dict, cls, known: dict[str, str] | None = None):
    fields = {f for f in cls.__dataclass_fields__}
    kwargs = {k: v for k, v in d.items() if k in fields}
    return cls(**kwargs)


def from_dict(raw: dict) -> Config:
    cfg = Config(
        sources={k: _pick(v or {}, SourceConfig) for k, v in (raw.get("sources") or {}).items()},
        transforms={
            k: _pick(v or {}, TransformConfig) for k, v in (raw.get("transforms") or {}).items()
        },
        sinks={k: _pick(v or {}, SinkConfig) for k, v in (raw.get("sinks") or {}).items()},
        resolve=raw.get("resolve") or {},
        graph=raw.get("graph") or {},
        anomaly=raw.get("anomaly") or {},
    )
    _assign_priorities(cfg)
    return cfg


def _assign_priorities(cfg: Config) -> None:
    """Stable sink priorities where unset: file order, appended AFTER
    any explicit priorities so an explicit ``priority: 0`` is honored
    and assigned indices never collide with explicit ones."""
    max_explicit = max(
        (s.priority for s in cfg.sinks.values() if s.priority is not None), default=-1
    )
    nxt = max_explicit + 1
    for s in cfg.sinks.values():
        if s.priority is None:
            s.priority = nxt
            nxt += 1


def load_config(path: str) -> Config:
    """Load + env-expand + parse + validate (load.go:10-24)."""
    if yaml is None:  # pragma: no cover
        raise RuntimeError("pyyaml is required for YAML config files")
    with open(path) as f:
        raw = yaml.safe_load(expand_env(f.read())) or {}
    cfg = from_dict(raw)
    cfg.validate()
    return cfg


# ── compilation to the Spark pipeline ──


def build_source(spark: SparkSession, name: str, sc: SourceConfig) -> DataFrame:
    """One source → transcript-shaped DataFrame tagged with its
    component name (``source_component`` — carried through parse so the
    config's ``inputs`` edges can route on lineage). ``generate`` is the
    deterministic generator; ``parquet`` reads a transcript table;
    ``file``/``stdin``/``docker`` read raw text lines with the source's
    ``service`` as the role (the reference tags every line with its
    source service, internal/source/file.go)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from . import gen
    from .schemas import DEFAULT_INGEST_TS, TRANSCRIPT_SCHEMA

    if sc.type == "generate":
        out = gen.transcripts(spark, sc.n_turns or 1000)
    elif sc.type == "parquet":
        out = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(sc.path)
    elif sc.type in ("file", "stdin", "docker"):
        if not sc.path:
            raise ConfigError(f"source [{name}]: type '{sc.type}' requires a path here "
                              "(no interactive stdin / docker socket in batch mode)")
        lines = spark.read.text(sc.path)
        # deterministic contiguous turn_idx: a global row_number ordered
        # by file position (monotonically_increasing_id alone is NOT
        # usable as an index — its partition component collapses under
        # any modulus). Config file sources are single-file-ish; the
        # one-partition window is acceptable here.
        w = Window.orderBy(F.monotonically_increasing_id())
        out = lines.select(
            F.lit(name).alias("conv_id"),
            (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
            F.lit(sc.service or name).alias("role"),
            F.col("value").alias("text"),
            F.lit("").alias("tool"),
            # pinned ingest time: no now() anywhere (determinism rule);
            # event time comes from the parsed text when present
            F.lit(DEFAULT_INGEST_TS).cast("timestamp").alias("ts"),
        )
    else:
        raise ConfigError(f"source [{name}]: unknown type '{sc.type}'")
    return out.withColumn("source_component", F.lit(name))


def component_sources(
    cfg: Config, name: str, _visiting: frozenset[str] = frozenset()
) -> set[str]:
    """Transitive set of SOURCE components feeding ``name`` (itself, if
    a source) — the reference's ``inputs`` edges resolved to lineage.
    Transforms referencing each other (or themselves) through ``inputs``
    raise ConfigError instead of recursing forever (transforms are
    legal input components, so validate() alone cannot reject the
    cycle)."""
    if name in cfg.sources:
        return {name}
    if name in cfg.transforms:
        if name in _visiting:
            raise ConfigError(
                f"transform input cycle involving '{name}'"
            )
        seen = _visiting | {name}
        out: set[str] = set()
        for inp in cfg.transforms[name].inputs:
            out |= component_sources(cfg, inp, seen)
        return out
    return set()


def _lineage_pred(cfg: Config, inputs: list[str]) -> str:
    srcs = sorted(set().union(*(component_sources(cfg, i) for i in inputs)) or set())
    quoted = ", ".join("'" + s.replace("'", "''") + "'" for s in srcs)
    return f"source_component IN ({quoted})" if quoted else "false"


def compile_pipeline(cfg: Config) -> dict:
    """Resolve the topology into the engine's wiring pieces: routing
    rules (each sink's filter AND its inputs' source lineage — the
    reference's ``inputs`` edges, validate.go:25-34), per-transform
    source sets, resolver rows, anomaly params. Pure metadata — no
    SparkSession needed (unit-testable)."""
    _assign_priorities(cfg)  # idempotent; covers directly-built Configs
    rules = [
        (name, f"({s.filter or 'true'}) AND {_lineage_pred(cfg, s.inputs)}", s.priority)
        for name, s in cfg.sinks.items()
    ]
    static = (cfg.resolve.get("static") or {}) if isinstance(cfg.resolve, dict) else {}
    host_rows = []
    for i, (pat, svc) in enumerate(static.items()):
        host_rows.append((pat, svc, "*" in pat or "?" in pat, i))
    return {
        "rules": sorted(rules, key=lambda r: r[2]),
        "transform_sources": {
            name: sorted(set().union(*(component_sources(cfg, i) for i in t.inputs)))
            for name, t in cfg.transforms.items()
        },
        "host_rows": host_rows,
        "docker_replicas": bool(cfg.resolve.get("docker", False)),
        "anomaly": {
            "window_size": int(cfg.anomaly.get("window_size", 100)),
            "threshold": float(cfg.anomaly.get("threshold", 3.0)),
            "cooldown_s": float(cfg.anomaly.get("cooldown_seconds", 30)),
            "min_samples": cfg.anomaly.get("min_samples"),
        },
    }


def run_from_config(
    spark: SparkSession,
    cfg: Config,
    out_dir: str,
    run_id: str = "config-run",
    batch_id: int = 0,
) -> dict:
    """Execute one batch of the configured topology: union the sources
    each transform consumes (fan-in), apply its remap, run the standard
    parse→enrich→route batch with sink rules from the config."""
    from . import pipeline, transform
    from .session import local_frame

    cfg.validate()
    compiled = compile_pipeline(cfg)
    frames = [build_source(spark, n, s) for n, s in cfg.sources.items()]
    base = frames[0]
    for f in frames[1:]:
        base = base.unionByName(f)

    hosts_df = None
    if compiled["host_rows"]:
        hosts_df = local_frame(
            spark,
            compiled["host_rows"],
            "host_pattern string, service string, is_wildcard boolean, priority int",
        )

    from pyspark.sql import functions as F

    def apply_transforms(df: DataFrame) -> DataFrame:
        # post-parse remap chain (reference: remap.go:16-47) — fields
        # merge into the raw map, case applies to the message column —
        # applied ONLY to rows from the transform's `inputs` sources
        # (the reference's fan-in wiring, not a global apply)
        for name, t in cfg.transforms.items():
            cond = F.col("source_component").isin(compiled["transform_sources"][name])
            if t.add_fields:
                # transform.add_fields_expr, NOT a bare map_concat: the
                # session pins mapKeyDedupPolicy=EXCEPTION, so a raw map
                # already carrying one of the static keys would abort
                # the whole batch on the first such document
                df = df.withColumn(
                    "raw",
                    F.when(
                        cond,
                        transform.add_fields_expr(F.col("raw"), t.add_fields),
                    ).otherwise(F.col("raw")),
                )
            if t.case:
                df = df.withColumn(
                    "message",
                    F.when(
                        cond, transform.apply_case(F.col("message"), t.case)
                    ).otherwise(F.col("message")),
                )
        return df

    summary = pipeline.run_batch(
        spark,
        base,
        out_dir,
        run_id=run_id,
        batch_id=batch_id,
        rules=compiled["rules"],
        lookup_hosts=hosts_df,
        transform_fn=apply_transforms if cfg.transforms else None,
        docker_replicas=compiled["docker_replicas"],
    )
    summary["config_sinks"] = sorted(cfg.sinks)
    return summary
