"""Generated inputs cached across runs in one checkout."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable


def cached_dir(cache_dir: str, name: str, params: dict, build: Callable[[str], None]) -> str:
    """``<cache_dir>/<name>-<hash of params>``, built by ``build(path)`` unless
    a manifest there records exactly ``params``. A directory without a
    matching manifest, such as one a killed run left half written, is
    rebuilt."""
    tag = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(cache_dir, f"{name}-{tag}")
    manifest = os.path.join(out, "_MANIFEST.json")
    try:
        with open(manifest) as f:
            if json.load(f) == params:
                return out
    except (OSError, json.JSONDecodeError):
        pass
    if os.path.isdir(out):
        shutil.rmtree(out)
    build(out)
    with open(manifest, "w") as f:
        json.dump(params, f)
    return out
