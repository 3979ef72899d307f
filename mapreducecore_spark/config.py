"""Job spec: the reference's config surface, typed.

Reproduces MapReduceSpec (`mapreduce_spec.h:18-26`) and its
`key=value[,v2,...]` INI parsing + validation (`mapreduce_spec.h:30-83,
87-157`). Runtime fields map onto Spark:

- n_workers / worker_ipaddr_ports -> master URL & executor confs (the
  gRPC worker pool is Spark's scheduler now, SURVEY §2.C);
- map_kilobytes (shard size, file_shard.h:35) -> the byte-range shards
  that mapreduce.run_job cuts and its map tasks read (no session conf);
- n_output_files (R) -> the partition count of run_job's shuffle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


class SpecError(ValueError):
    """Invalid job spec (the reference exits false from validate —
    mapreduce_spec.h:87-157; we raise with the reason)."""


@dataclass
class JobSpec:
    n_workers: int = 0
    worker_ipaddr_ports: list[str] = field(default_factory=list)
    input_files: list[str] = field(default_factory=list)
    output_dir: str = ""
    n_output_files: int = 8
    map_kilobytes: int = 512
    user_id: str = ""

    # --- Spark mappings -------------------------------------------------
    @property
    def master_url(self) -> str:
        return f"local[{self.n_workers}]" if self.n_workers > 0 else "local[*]"


# The job path reads plain files by byte range, as the reference does;
# Spark's text source would decompress these, a byte range cannot.
COMPRESSED_SUFFIXES = (".gz", ".bz2", ".deflate", ".zst", ".lz4", ".snappy")


def check_input_file(path: str, check_path: bool = True) -> str:
    """``path`` as an absolute path, after the checks that let a map task
    read it by byte range: not compressed and, with ``check_path``, an
    existing regular file. Raises ``SpecError`` naming the path."""
    if path.lower().endswith(COMPRESSED_SUFFIXES):
        raise SpecError(f"input file is compressed: {path}")
    if check_path:
        if not os.path.exists(path):
            raise SpecError(f"input file does not exist: {path}")
        if os.path.isdir(path):
            raise SpecError(f"input file is a directory: {path}")
        if not os.path.isfile(path):
            raise SpecError(f"input file is not a regular file: {path}")
    return os.path.abspath(path)


_LIST_KEYS = {"worker_ipaddr_ports", "input_files"}
_INT_KEYS = {"n_workers", "n_output_files", "map_kilobytes"}


def parse_spec(path: str) -> JobSpec:
    """Parse the reference's INI format (mapreduce_spec.h:30-83):
    one `key=value` per line, comma-separated lists, no sections."""
    spec = JobSpec()
    with open(path, encoding="utf-8") as f:
        for lineno, raw in enumerate(f, 1):
            line = raw.strip()
            if not line or line.startswith(("#", ";")):
                continue
            if "=" not in line:
                raise SpecError(f"{path}:{lineno}: expected key=value, got {line!r}")
            key, _, value = line.partition("=")
            key, value = key.strip(), value.strip()
            if key in _LIST_KEYS:
                setattr(spec, key, [v.strip() for v in value.split(",") if v.strip()])
            elif key in _INT_KEYS:
                try:
                    setattr(spec, key, int(value))
                except ValueError as e:
                    raise SpecError(f"{path}:{lineno}: {key} must be an int") from e
            elif key in ("output_dir", "user_id"):
                setattr(spec, key, value)
            else:
                raise SpecError(f"{path}:{lineno}: unknown key {key!r}")
    return spec


def validate_spec(spec: JobSpec, check_paths: bool = True) -> JobSpec:
    """The reference's validation set (mapreduce_spec.h:87-157):
    positive counts, worker list length == n_workers, inputs are
    existing plain files (not directories, not compressed), output dir
    usable."""
    if spec.n_workers <= 0:
        raise SpecError("n_workers must be > 0")
    if len(spec.worker_ipaddr_ports) != spec.n_workers:
        raise SpecError(
            f"worker address count {len(spec.worker_ipaddr_ports)} != n_workers {spec.n_workers}"
        )
    if spec.n_output_files <= 0:
        raise SpecError("n_output_files must be > 0")
    if spec.map_kilobytes <= 0:
        raise SpecError("map_kilobytes must be > 0")
    if not spec.user_id:
        raise SpecError("user_id must be set")
    if not spec.input_files:
        raise SpecError("input_files must be non-empty")
    if not spec.output_dir:
        raise SpecError("output_dir must be set")
    for p in spec.input_files:
        check_input_file(p, check_path=check_paths)
    if check_paths:
        parent = os.path.dirname(spec.output_dir.rstrip("/")) or "."
        if not os.path.isdir(parent):
            raise SpecError(f"output_dir parent does not exist: {parent}")
        # Probe writability like the reference's trial-file check
        # (mapreduce_spec.h validate: open+unlink in the target dir).
        if not os.access(parent, os.W_OK):
            raise SpecError(f"output_dir parent is not writable: {parent}")
    return spec


def read_and_validate_spec(path: str, check_paths: bool = True) -> JobSpec:
    """read_mr_spec_from_config_file + validate (mapreduce_impl.cc:30-32)."""
    return validate_spec(parse_spec(path), check_paths=check_paths)
