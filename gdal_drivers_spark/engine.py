"""Job-spec configs as INI text — the analogue of the reference's
INI job specs (solid.cpp:176-205). Config objects are plain dicts;
``to_ini`` renders one for lineage records (writeConfig,
solid.cpp:53-88) and ``from_ini`` parses it back, round-trip exact.
"""

from __future__ import annotations

import re

_INT_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")


def to_ini(config: dict, section: str = "job") -> str:
    """Render a job-spec dict as INI text (writeConfig analogue,
    solid.cpp:53-88). Round-trip-exact with ``from_ini``: a
    single-element list renders with a trailing comma (so it parses
    back as a list, not a scalar), and a STRING value containing a
    comma is rejected — it would come back as a list (review r02)."""
    lines = [f"[{section}]"]
    for k, v in sorted(config.items()):
        if isinstance(v, (list, tuple)):
            for x in v:
                # same non-representability rule as string scalars: a
                # comma INSIDE a rendered element would shift the
                # element boundaries on parse (['x,y','z'] ->
                # ['x','y','z']). Checked on str(x) — the RENDERED
                # form — so non-str elements like tuples are caught too
                if "," in str(x):
                    raise ValueError(
                        f"list element for {k!r} renders with a comma — not "
                        "representable (from_ini would split it)"
                    )
            v = ",".join(str(x) for x in v) + ("," if len(v) == 1 else "")
        elif isinstance(v, str) and "," in v:
            raise ValueError(
                f"string value for {k!r} contains a comma — not representable "
                "(from_ini would parse it as a list)"
            )
        lines.append(f"{k} = {v}")
    return "\n".join(lines) + "\n"


def from_ini(text: str) -> dict[str, dict]:
    """Parse INI text back to {section: {key: typed value}} — the
    config *probe/parse* half (S3; the reference reads its .solid/
    .blender job specs the same way, solid.cpp:176-205). Typing rule
    (deterministic): int → float → comma-list of those → string.
    Unknown lines raise — a malformed config is an error, not a guess
    (matching the reference's strict option parsing)."""

    def _scalar(s: str):
        s = s.strip()
        # strict numeric patterns, NOT bare int()/float() — Python's
        # constructors also accept 'nan'/'inf'/'Infinity' and digit
        # underscores ('1_0'), which would silently coerce strings a
        # writer meant literally and break the round-trip (review r02)
        if _INT_RE.match(s):
            return int(s)
        if _FLOAT_RE.match(s):
            return float(s)
        return s

    out: dict[str, dict] = {}
    section = None
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith((";", "#")):
            continue
        if line.startswith("[") and line.endswith("]"):
            section = line[1:-1]
            out[section] = {}
            continue
        if "=" not in line or section is None:
            raise ValueError(f"malformed INI line {raw!r}")
        k, v = line.split("=", 1)
        v = v.strip()
        if "," in v:
            parts = v.split(",")
            if parts and parts[-1].strip() == "":
                parts = parts[:-1]  # trailing comma = 1-element list
            out[section][k.strip()] = [_scalar(p) for p in parts]
        else:
            out[section][k.strip()] = _scalar(v)
    return out
