"""openSMILE `.conf` compatibility layer — parse the reference's config
format and compile it onto the declarative stage runner (`config.run_config`).

The reference's entire UX is `SMILExtract -C file.conf`: an ini-style file
of `[instance:cType]` sections wired through `reader.dmLevel` /
`writer.dmLevel` (format: /root/reference/src/core/configManager.cpp and
the openSMILE book §2; real instances under /root/reference/config/).
A migrating user owns such files, so this module parses the documented
syntax —

  * `[name:cType]` sections; repeated `[componentInstances:
    cComponentManager]` blocks accumulating `instance[x].type=...`
  * `key = value`, nested `A.B = v`, arrays `k[0] = v`, list values
    split on `;`
  * comments: full-line `;`, `//`, `#`, `/* */`-free (the reference
    uses line comments only) and trailing `//`
  * `\\{path}` textual includes, resolved relative to the including file
  * `\\cm[longopt(short){default}:description]` command-line
    substitution, resolved from a caller-supplied mapping or the
    inline `{default}`

— then maps each component instance onto the Spark-native analogue
operator, ordering stages by a topological sort of the dmLevel dataflow
graph (the same wiring the reference's component manager negotiates at
runtime). Components without a Spark-side analogue (sources, sinks,
cDataMemory, audio-sample-domain DSP) are recorded in the returned
report instead of silently dropped, so the user sees exactly which
parts of their config carried over. This is a MAPPING of config intent
onto an independent engine, not an emulation of the reference's
execution: levels become DataFrame columns, the component graph becomes
one Catalyst plan.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

_SECTION_RE = re.compile(r"^\[\s*([^:\]]+?)\s*:\s*([^\]]+?)\s*\]$")
_INSTANCE_RE = re.compile(r"^instance\[\s*([^\]]+?)\s*\]\.type$")
_ARRAY_KEY_RE = re.compile(r"^(.*)\[(\d+)\]$")
_CM_RE = re.compile(
    r"\\cm\[([A-Za-z0-9_]+)"          # long option name
    r"(?:\(([^)]*)\))?"               # optional (short)
    r"(?:\{([^}]*)\})?"               # optional {default}
    r"(?::[^\]]*)?\]"                 # optional :description
)
_INCLUDE_RE = re.compile(r"^\\\{(.+)\}$")


@dataclass
class ConfSection:
    name: str
    ctype: str
    options: dict = field(default_factory=dict)

    def get(self, key, default=None):
        return self.options.get(key, default)


@dataclass
class ConfParse:
    sections: list = field(default_factory=list)      # [ConfSection] in file order
    instances: dict = field(default_factory=dict)     # name -> cType
    unresolved: list = field(default_factory=list)    # human-readable notes
    fragment_options: list = field(default_factory=list)  # (key, value)
    # options appearing BEFORE any section: the file is a
    # caller-parameterized include FRAGMENT (the arff_targets pattern —
    # cArffSink class[]/target[] options meant to be textually spliced
    # into the including file's open section, configManager.cpp include
    # semantics). Standalone they are ownerless BY DESIGN, not errors;
    # the splice path is what executes them (see
    # test_include_continues_open_section).
    cm_reg: dict = field(default_factory=dict)        # \cm option registry:
    # the FIRST \cm[name{default}:desc] occurrence registers the default,
    # later bare \cm[name] references reuse it (commandlineParser behavior
    # relied on by e.g. eGeMAPS referencing GeMAPS-registered options)

    def by_type(self, ctype: str) -> list:
        return [s for s in self.sections if s.ctype == ctype]

    def section(self, name: str):
        for s in self.sections:
            if s.name == name:
                return s
        return None


def _strip_comment(line: str) -> str:
    t = line.strip()
    if not t or t.startswith((";", "#", "//", "%")):
        return ""
    # trailing // comment (the reference uses these after values)
    idx = t.find(" //")
    if idx >= 0:
        t = t[:idx].rstrip()
    return t


def _sub_cm(text: str, cm: dict, unresolved: list,
            reg: dict | None = None) -> str | None:
    """Replace every \\cm[...] occurrence; None = line must be skipped.
    `reg` is the first-occurrence default registry: \\cm[name{default}:d]
    registers, a later bare \\cm[name] resolves from it."""
    out, ok = [], True

    def repl(m):
        nonlocal ok
        name, short, default = m.group(1), m.group(2), m.group(3)
        if default is not None and reg is not None:
            reg.setdefault(name, default)
            if short:
                reg.setdefault(short, default)
        if cm and name in cm:
            return str(cm[name])
        if cm and short and short in cm:
            return str(cm[short])
        if default is not None:
            return default
        if reg is not None and name in reg:
            return reg[name]
        if reg is not None and short and short in reg:
            return reg[short]
        ok = False
        unresolved.append(f"\\cm[{name}] has no value and no default")
        return ""

    res = _CM_RE.sub(repl, text)
    return res if ok else None


def _coerce(v: str):
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        return v


def _set_option(opts: dict, key: str, value: str):
    m = _ARRAY_KEY_RE.match(key)
    if m:
        base, idx = m.group(1), int(m.group(2))
        arr = opts.setdefault(base, [])
        while len(arr) <= idx:
            arr.append(None)
        arr[idx] = _coerce(value)
    else:
        opts[key] = _coerce(value)


def _conf_lines(text: str, cm: dict, include_resolver, p: ConfParse,
                depth: int = 0):
    """Yield cleaned logical lines with \\{...} includes SPLICED IN PLACE —
    the reference's textual-include semantics (configManager.cpp): an
    included file's options continue whatever section was open at the
    include point (the shared FrameModeFunctionals / BufferMode .inc
    pattern relies on this)."""
    if depth > 16:
        p.unresolved.append("include depth > 16 (cycle?)")
        return
    in_block = False                # /* */ c-style block comments
    for raw in text.splitlines():
        t = raw.strip()
        if t.startswith("/*"):      # configManager.cpp:1987-1995: the
            in_block = True         # opener line and everything up to a
        if in_block:                # line starting or ending with */ is
            if t.startswith("*/") or t.endswith("*/"):
                in_block = False    # (closer line itself also skipped)
            continue
        line = _strip_comment(raw)
        if not line:
            continue
        line2 = _sub_cm(line, cm, p.unresolved, p.cm_reg)
        if line2 is None:
            continue
        line = line2.strip()
        if not line:
            continue
        inc = _INCLUDE_RE.match(line)
        if inc:
            path = inc.group(1).strip()
            body = include_resolver(path) if include_resolver else None
            if body is None:
                p.unresolved.append(f"include not resolved: {path}")
            else:
                yield from _conf_lines(body, cm, include_resolver, p,
                                       depth + 1)
            continue
        yield line


def parse_conf_text(text: str, cm: dict | None = None,
                    include_resolver=None, _parse: ConfParse | None = None,
                    _depth: int = 0) -> ConfParse:
    """Parse openSMILE conf text. `include_resolver(path) -> text | None`
    supplies \\{...} include bodies (None = record unresolved and skip).
    Includes are textual splices: the open section continues across the
    include boundary, exactly as in the reference."""
    p = _parse if _parse is not None else ConfParse()
    cur: ConfSection | None = None

    for line in _conf_lines(text, cm or {}, include_resolver, p, _depth):
        sec = _SECTION_RE.match(line)
        if sec:
            name, ctype = sec.group(1), sec.group(2)
            if ctype == "cComponentManager":
                cur = ConfSection(name, ctype)  # options land in instances
                continue
            cur = p.section(name)
            if cur is None or cur.ctype != ctype:
                cur = ConfSection(name, ctype)
                p.sections.append(cur)
            continue

        if "=" not in line:
            p.unresolved.append(f"unparsed line: {line[:60]}")
            continue
        key, _, value = line.partition("=")
        key, value = key.strip(), value.strip()
        if cur is not None and cur.ctype == "cComponentManager":
            im = _INSTANCE_RE.match(key)
            if im:
                p.instances[im.group(1)] = value
            continue
        if cur is None:
            p.fragment_options.append((key, value))
            continue
        _set_option(cur.options, key, value)

    return p


def load_conf(path: str, cm: dict | None = None) -> ConfParse:
    """Parse a conf FILE, resolving \\{...} includes relative to each
    including file (the reference's rule)."""
    def make_resolver(base_dir: str):
        def resolve(rel: str):
            full = os.path.normpath(os.path.join(base_dir, rel))
            if not os.path.isfile(full):
                return None
            with open(full) as f:
                body = f.read()
            # nested includes resolve relative to the INCLUDED file: wrap
            # by re-entering parse with a resolver rooted at its dir —
            # done by returning a sentinel-free pre-resolved text: we
            # splice nested includes here recursively.
            return _preresolve(body, os.path.dirname(full), notes, cm,
                               reg=p.cm_reg)
        return resolve

    notes: list[str] = []
    with open(path) as f:
        text = f.read()
    p = ConfParse()
    p.unresolved.extend(notes)
    parse_conf_text(text, cm, make_resolver(os.path.dirname(path)), p)
    p.unresolved.extend(notes)
    return p


def _preresolve(text: str, base_dir: str, notes: list,
                cm: dict | None = None, depth: int = 0,
                reg: dict | None = None) -> str:
    """Inline nested \\{...} includes textually, relative to base_dir.
    Include paths carrying \\cm[opt{default}] substitutions (the
    arff_targets / FrameModeFunctionals pattern) are substituted HERE so
    they resolve relative to the including file, not the top-level conf."""
    if depth > 16:
        notes.append("include depth > 16 (cycle?)")
        return text
    out = []
    for raw in text.splitlines():
        stripped = raw.strip()
        cand = stripped
        if stripped.startswith("\\{") and "\\cm[" in stripped:
            sub = _sub_cm(stripped, cm or {}, notes, reg)
            if sub is None:
                continue        # \cm with no value/default: noted, skipped
            cand = sub.strip()
        m = _INCLUDE_RE.match(cand)
        if m:
            full = os.path.normpath(os.path.join(base_dir, m.group(1).strip()))
            if os.path.isfile(full):
                with open(full) as f:
                    body = f.read()
                out.append(_preresolve(body, os.path.dirname(full),
                                       notes, cm, depth + 1, reg))
                continue
            notes.append(f"include not found: {m.group(1).strip()}")
            continue
        out.append(raw)
    return "\n".join(out)


# ---------------------------------------------------------------------------
# dataflow graph -> stage ordering
# ---------------------------------------------------------------------------

def _levels(section: ConfSection, key: str) -> list[str]:
    v = section.get(key, "")
    if isinstance(v, (int, float)):
        v = str(v)
    return [x.strip() for x in str(v).split(";") if x.strip()]


def toposort_sections(parse: ConfParse) -> list[ConfSection]:
    """Order sections by dmLevel dataflow (producer before consumer);
    unwired sections keep file order. Cycles fall back to file order."""
    secs = parse.sections
    producer: dict[str, int] = {}
    for i, s in enumerate(secs):
        for lv in _levels(s, "writer.dmLevel"):
            producer.setdefault(lv, i)
    adj = {i: set() for i in range(len(secs))}
    indeg = {i: 0 for i in range(len(secs))}
    for i, s in enumerate(secs):
        for lv in _levels(s, "reader.dmLevel"):
            j = producer.get(lv)
            if j is not None and j != i and i not in adj[j]:
                adj[j].add(i)
                indeg[i] += 1
    import heapq
    from heapq import heappop, heappush
    heap = [i for i in range(len(secs)) if indeg[i] == 0]
    heapq.heapify(heap)
    order = []
    while heap:
        i = heappop(heap)
        order.append(i)
        for j in sorted(adj[i]):
            indeg[j] -= 1
            if indeg[j] == 0:
                heappush(heap, j)
    if len(order) != len(secs):          # cycle — keep file order
        return list(secs)
    return [secs[i] for i in order]


# ---------------------------------------------------------------------------
# component -> stage mapping
# ---------------------------------------------------------------------------

_FAMILY_MAP = {
    "means": "means", "moments": "moments", "extremes": "extremes",
    "percentiles": "percentiles", "regression": "regression",
    "peaks": "peaks", "peaks2": "peaks2", "onset": "onset",
    "crossings": "crossings", "times": "times", "segments": "segments",
    "samples": "samples", "dct": "dct", "lpc": "lpc",
    "modulation": "modulation",
}

_IO_TYPES = {
    "cWaveSource", "cCsvSource", "cArffSource", "cHtkSource",
    "cExternalSource", "cExternalAudioSource", "cFFmpegSource",
    "cPortaudioSource", "cCsvSink", "cArffSink", "cHtkSink",
    "cDatadumpSink", "cDataPrintSink", "cNullSink", "cWaveSink",
    "cWaveSinkCut", "cExternalSink", "cExternalMessageInterface",
    "cLibsvmSink", "cDataMemory",
}

def _seg_options(sec: ConfSection) -> dict:
    opts = {}
    if sec.get("Segments.maxNumSeg") is not None:
        opts["maxNumSeg"] = int(sec.get("Segments.maxNumSeg"))
    if sec.get("Segments.segmentationAlgorithm") is not None:
        alg = str(sec.get("Segments.segmentationAlgorithm"))
        opts["algorithm"] = alg
    if sec.get("Segments.X") is not None:
        opts["X"] = float(sec.get("Segments.X"))
    if sec.get("Segments.XisRel") is not None:
        opts["XisRel"] = bool(int(sec.get("Segments.XisRel")))
    if sec.get("Segments.segMinLng") is not None:
        opts["segMinLng"] = int(sec.get("Segments.segMinLng"))
    if sec.get("Segments.pauseMinLng") is not None:
        opts["pauseMinLng"] = int(sec.get("Segments.pauseMinLng"))
    return opts


def _pctl_options(sec: ConfSection) -> dict:
    opts = {}
    pcts = sec.get("Percentiles.percentile")
    if isinstance(pcts, list):
        opts["percentiles"] = tuple(float(x) for x in pcts if x is not None)
        # the conf declares its own percentile list: the kernel's default
        # pctlranges=((0,2),) indexes the DEFAULT 3-percentile list and
        # must not survive (emo_large declares 2 percentiles, no ranges)
        opts["pctlranges"] = ()
    ranges = sec.get("Percentiles.pctlrange")
    if isinstance(ranges, list):
        pairs = []
        for r in ranges:
            if r is None:
                continue
            a, _, b = str(r).partition("-")
            pairs.append((int(a), int(b)))
        opts["pctlranges"] = tuple(pairs)
    if sec.get("Percentiles.interp") is not None:
        opts["interp"] = bool(int(sec.get("Percentiles.interp")))
    return opts


def _functionals_stage(sec: ConfSection, cols: list[str],
                       group_cols, report: dict) -> list | None:
    """Compile one cFunctionals section to a stage list: an optional
    tumbling-bucket stage (frameMode=fixed with frameStep == frameSize —
    winToVecProcessor's fixed framing over event time), the functionals
    stage itself, and an optional output-flag select."""
    enabled = sec.get("functionalsEnabled", "")
    fams, unknown = [], []
    for name in str(enabled).split(";"):
        name = name.strip()
        if not name:
            continue
        fam = _FAMILY_MAP.get(name.lower())
        (fams if fam else unknown).append(fam or name)
    if unknown:
        report.setdefault("unmapped_options", {}).setdefault(
            sec.name, []).extend(f"functional family {u}" for u in unknown)
    if not fams:
        return None
    options = {}
    if "percentiles" in fams:
        o = _pctl_options(sec)
        if o:
            options["percentiles"] = o
    if "segments" in fams:
        o = _seg_options(sec)
        if o:
            options["segments"] = o
    for fam_key, conf_key in (("moments", "Moments.doRatioLimit"),
                              ("peaks2", "Peaks2.doRatioLimit")):
        if fam_key in fams and sec.get(conf_key) is not None:
            options.setdefault(fam_key, {})["doRatioLimit"] = bool(
                int(sec.get(conf_key)))
    stages = []
    gcols = list(group_cols)
    mode = str(sec.get("frameMode", "full"))
    size = float(sec.get("frameSize", 0) or 0)
    step = float(sec.get("frameStep", 0) or 0)
    if mode == "fixed" and size > 0:
        if step and step != size:
            report.setdefault("unmapped_options", {}).setdefault(
                sec.name, []).append(
                f"frameMode=fixed with frameStep {step} != frameSize "
                f"{size} (overlapping functional windows) — ran as "
                f"tumbling {size}s")
        stages.append({"type": "tumbling_bucket", "seconds": size})
        gcols = gcols + ["win_start"]
    elif mode not in ("full", "fixed"):
        report.setdefault("unmapped_options", {}).setdefault(
            sec.name, []).append(f"frameMode={mode} — ran as full")
    stage = {"type": "functionals", "value_cols": list(cols),
             "families": fams, "group_cols": gcols}
    if options:
        stage["options"] = options
    stages.append(stage)
    keep = _output_selection(sec, fams, options, report)
    if keep is not None:
        sel = (gcols + ["n_turns"]
               + [f"{c}_{o}" for c in cols for o in keep])
        stages.append({"type": "select", "cols": sel})
    return stages


# kernel/semantic options that look like 0/1 flags but do not enable an
# output column
_NON_OUTPUT_FLAGS = {
    "doRatioLimit", "interp", "XisRel", "useOldBuggyChX", "norm",
    "oldBuggyQerr", "enabled", "masterTimeNorm", "segmentationAlgorithm",
}


def _output_selection(sec, fams, options, report):
    """The reference enables each functional OUTPUT with a per-name flag
    (`Moments.variance = 0`, `Peaks2.meanRisingSlope = 1`, …;
    functionals.cpp registers one config bool per output). The kernel
    emits a family's full output set, so conf parity = a post-select of
    the enabled columns. Flag names match kernel output names near-1:1;
    plural/derived flags (`quartiles`, `iqr`) match by singular prefix,
    longest-flag-wins so `stddevNorm` beats `stddev` for the stddevNorm
    column. Outputs no flag governs stay included (the component-default
    rule); enabled flags naming outputs this engine does not produce are
    reported under `unavailable_outputs`. Returns the kept output-name
    list, or None when the section declares no output flags."""
    from opensmile_spark.functionals.batched import output_keys

    flags: dict = {}
    for k, v in sec.options.items():
        if "." not in k or not isinstance(v, int) or v not in (0, 1, 2):
            continue
        famraw, flag = k.split(".", 1)
        fam = _FAMILY_MAP.get(famraw.lower())
        if fam is None or fam not in fams or flag in _NON_OUTPUT_FLAGS:
            continue
        flags.setdefault(fam, {})[flag] = v
    if not any(flags.values()):
        return None
    keep, unavailable = [], []
    for fam in fams:
        outs = output_keys((fam,), options)
        fflags = flags.get(fam)
        if not fflags:
            keep.extend(outs)
            continue
        matched = set()
        for o in outs:
            ol = o.lower()
            best = None
            for f in fflags:
                fl = f.lower()
                ft = fl[:-1] if fl.endswith("s") else fl
                if ol == fl or ol.startswith(ft):
                    if best is None or len(f) > len(best):
                        best = f
            if best is None:
                keep.append(o)
            else:
                matched.add(best)
                if fflags[best]:
                    keep.append(o)
        unavailable.extend(f"{fam}.{f}" for f, v in fflags.items()
                           if f not in matched and v)
    if unavailable:
        report.setdefault("unavailable_outputs", {})[sec.name] = sorted(
            unavailable)
    return keep


def conf_to_config(parse: ConfParse, value_cols: list[str],
                   group_cols=("conv_id",),
                   event_resample_period: float = 86400.0) -> dict:
    """Compile a parsed conf into a `run_config` stage list + report.

    `value_cols` seeds the dataflow: levels produced by unmapped
    components (e.g. the audio LLD chain) carry these columns. Column
    naming follows the engine's suffix conventions (sma -> <c>_sma{w},
    delta -> <c>_de, preemphasis -> <c>_pe, mvn -> <c>_mvn), so chained
    stages thread the right intermediate names exactly like the
    reference's level wiring."""
    report: dict = {"mapped": [], "passthrough": [], "io": [],
                    "unresolved": list(parse.unresolved)}
    stages: list[dict] = []
    level_cols: dict[str, list[str]] = {}

    def cols_for(sec: ConfSection) -> list[str]:
        cols: list[str] = []
        for lv in _levels(sec, "reader.dmLevel"):
            for c in level_cols.get(lv, []):
                if c not in cols:
                    cols.append(c)
        return cols or list(value_cols)

    n_mark = [0]
    aliases: dict[str, list[str]] = {}

    def set_out(sec: ConfSection, cols: list[str]):
        for lv in _levels(sec, "writer.dmLevel"):
            level_cols[lv] = list(cols)
        # stamp DAG routing onto the stages this section just emitted: the
        # first reads the section's reader levels, the last writes its
        # writer levels (run_config resolves unwritten levels to the input
        # frame — the audio-source chain the compile maps onto the
        # caller's columns). A section that emitted NO stage (io,
        # passthrough, identity) instead ALIASES its writer levels to its
        # reader levels so downstream reads reach through it.
        new = stages[n_mark[0]:]
        readers = _levels(sec, "reader.dmLevel")
        writers = _levels(sec, "writer.dmLevel")
        if new:
            if readers:
                new[0].setdefault("_reads", readers)
            if writers:
                new[-1].setdefault("_writes", writers)
        elif readers:
            for lv in writers:
                aliases.setdefault(lv, readers)
        n_mark[0] = len(stages)

    for sec in toposort_sections(parse):
        cur = cols_for(sec)
        t = sec.ctype
        if t in _IO_TYPES:
            report["io"].append(f"{sec.name}:{t}")
            set_out(sec, cur)
            continue
        if t == "cVectorConcat":
            # concat of levels == column union; distinct source frames are
            # key-joined by run_config (functional-level concat), identical
            # ones collapse to a passthrough
            stages.append({"type": "concat"})
            report["mapped"].append(f"{sec.name}:{t} (column union)")
            set_out(sec, cur)
            continue
        if t == "cContourSmoother":
            win = int(sec.get("smaWin", 3))
            nz = "nz" in str(sec.get("nameAppend", "")) or bool(
                int(sec.get("noZeroSma", 0) or 0))
            if win % 2 == 0:
                win += 1
            stages.append({"type": "sma", "cols": cur, "win": win,
                           "no_zero_sma": nz})
            out = [f"{c}_sma{win}{'nz' if nz else ''}" for c in cur]
            report["mapped"].append(f"{sec.name}:{t} -> sma(win={win})")
            set_out(sec, out)
            continue
        if t == "cDeltaRegression":
            win = int(sec.get("deltawin", 2))
            stages.append({"type": "delta", "cols": cur, "win": win})
            report["mapped"].append(f"{sec.name}:{t} -> delta(win={win})")
            set_out(sec, [f"{c}_de" for c in cur])
            continue
        if t == "cVectorOperation":
            op = str(sec.get("operation", "mul"))
            scalar = float(sec.get("param1", 1.0))
            new_cols = []
            for c in cur:
                stages.append({"type": "vector_op", "col": c, "op": op,
                               "scalar": scalar})
                new_cols.append(f"{c}_{op}")
            report["mapped"].append(
                f"{sec.name}:{t} -> vector_op({op}, param1={scalar})")
            set_out(sec, new_cols)
            continue
        if t == "cVectorPreemphasis":
            k = float(sec.get("k", 0.97))
            stages.append({"type": "preemphasis", "cols": cur, "k": k})
            report["mapped"].append(f"{sec.name}:{t} -> preemphasis(k={k})")
            set_out(sec, [f"{c}_pe" for c in cur])
            continue
        if t in ("cVectorMVN", "cVectorTransform"):
            stages.append({"type": "mvn", "cols": cur})
            report["mapped"].append(f"{sec.name}:{t} -> mvn")
            set_out(sec, [f"{c}_mvn" for c in cur])
            continue
        if t == "cFullinputMean":
            stages.append({"type": "fullinput_mean", "cols": cur})
            report["mapped"].append(f"{sec.name}:{t} -> fullinput_mean")
            set_out(sec, cur)
            continue
        if t == "cDataSelector":
            sel = sec.get("selected")
            names = ([s for s in sel if s] if isinstance(sel, list)
                     else [x.strip() for x in str(sel).split(";") if x.strip()]
                     if sel else cur)
            # the conf names fields of the REFERENCE's level (audio LLD
            # names); only the ones that exist in this column world can be
            # selected — the rest are reported unavailable, and an empty
            # intersection compiles to an identity passthrough so the
            # pipeline SHAPE survives on the threaded columns
            avail = [n for n in names if n in cur]
            missing = [n for n in names if n not in cur]
            if missing:
                report.setdefault("unavailable_selects", {})[sec.name] = (
                    sorted(missing))
            if avail:
                stages.append({"type": "data_selector", "names": avail})
                report["mapped"].append(f"{sec.name}:{t} -> data_selector")
                set_out(sec, avail)
            else:
                report["mapped"].append(
                    f"{sec.name}:{t} -> identity (no selected field exists "
                    "in this column world)")
                set_out(sec, cur)
            continue
        if t == "cValbasedSelector":
            thr = float(sec.get("threshold", 0.0))
            stages.append({"type": "valbased_selector", "gate_col": cur[0],
                           "threshold": thr,
                           "invert": bool(int(sec.get("invert", 0) or 0))})
            report["mapped"].append(f"{sec.name}:{t} -> valbased_selector")
            set_out(sec, cur)
            continue
        if t == "cPitchSmootherViterbi":
            stages.append({"type": "viterbi", "col": cur[0]})
            report["mapped"].append(f"{sec.name}:{t} -> viterbi")
            set_out(sec, cur)
            continue
        if t in ("cSmileResample", "cSpecResample"):
            rate = sec.get("targetRate") or sec.get("targetFs")
            period = (1.0 / float(rate)) if rate else float(
                sec.get("periodSeconds", 1.0))
            if period < 1.0:
                # audio sample rates are meaningless on event-time data;
                # map sub-second grids to the caller's event grid
                report.setdefault("notes", []).append(
                    f"{sec.name}: audio-rate resample period {period:.3g}s "
                    f"mapped to event-time grid {event_resample_period}s")
                period = event_resample_period
            stages.append({"type": "resample", "period_seconds": period,
                           "value_cols": cur})
            report["mapped"].append(
                f"{sec.name}:{t} -> resample(period={period})")
            set_out(sec, cur)
            continue
        if t == "cTurnDetector":
            gap = float(sec.get("maxPause", 300.0))
            stages.append({"type": "sessionize", "gap_seconds": gap})
            report["mapped"].append(
                f"{sec.name}:{t} -> sessionize(gap={gap}s)")
            set_out(sec, cur)
            continue
        if t == "cFunctionals":
            st = _functionals_stage(sec, cur, group_cols, report)
            if st is not None:
                stages.extend(st)
                fstage = next(s for s in st if s["type"] == "functionals")
                extras = [s["type"] for s in st if s is not fstage]
                report["mapped"].append(
                    f"{sec.name}:{t} -> functionals("
                    f"{','.join(fstage['families'])})"
                    + (f" + {'/'.join(extras)}" if extras else ""))
                # the bank's written level carries the FUNCTIONAL column
                # names, not the input contour names — func-of-func chains
                # (the reference's Leq pattern: functionals -> dBp) read
                # these downstream
                sel = next((x for x in reversed(st)
                            if x["type"] == "select"), None)
                if sel is not None:
                    out_names = [c for c in sel["cols"]
                                 if c not in group_cols and c != "n_turns"]
                else:
                    from opensmile_spark.functionals.bank import (
                        feature_names,
                    )
                    out_names = feature_names(fstage["value_cols"],
                                              fstage["families"],
                                              fstage.get("options"))
                set_out(sec, out_names)
            else:
                set_out(sec, cur)
            continue
        # anything else: passthrough with its level wiring intact
        report["passthrough"].append(f"{sec.name}:{t}")
        set_out(sec, cur)

    return {"stages": stages, "aliases": aliases, "report": report}
