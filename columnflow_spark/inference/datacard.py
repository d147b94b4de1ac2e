"""Combine-style counting-datacard serialization (reference
columnflow/inference/cms/datacard.py:35 ``DatacardWriter``).

Rates are read from the engine's long-format yield table — a DataFrame (or
pre-collected mapping) with columns ``(category, process, sum_w)`` as
produced by ``yield_table``-style aggregations — so the cluster-side work
is one tiny aggregate; formatting happens on the driver exactly like the
reference.

Combine datacard conventions honored: signal processes get ids <= 0,
backgrounds 1..n; ``observation`` is the data rate or (with
``data_from_processes``) the rounded sum of the named processes; nuisance
lines are ``<name> <lnN|lnU>`` with ``-`` for unaffected columns.
"""

from __future__ import annotations

from collections.abc import Mapping

from columnflow_spark.inference.model import InferenceModel, Parameter
from columnflow_spark.sources.sinks import replace_store, write_events


def _effective_effect(par, cat_name: str, proc_name: str, shapes, cache: dict):
    """Resolve a parameter's (combine type, effect string) after its
    transformation chain (reference datacard.py:374-431).

    Rate-side transformations are exact scalar math
    (transform.py:transform_rate_effect); the from_shape family pulls the
    per-(category, process) integral effects and flatness verdicts from
    the shapes table in ONE aggregation per parameter (cached across the
    datacard's columns).  ``effect_from_shape_if_flat`` converts the
    parameter to shape-type when a variation isn't flat — the effect
    column then reads ``1`` and the templates stay in the shapes store.
    """
    trafos = tuple(getattr(par, "transformations", ()) or ())
    if par.type == "shape":
        if "effect_from_rate" in trafos:
            return "shape", "1"  # template built from the rate; effect resets
        return "shape", par.effect_str()
    if not trafos:
        return par.combine_type, par.effect_str()

    shape_effect = shape_is_flat = None
    if trafos[0] in ("effect_from_shape", "effect_from_shape_if_flat"):
        if shapes is None:
            raise ValueError(
                f"parameter '{par.name}' uses {trafos[0]} and needs the shapes table"
            )
        info = cache.get(par.name)
        if info is None:
            from columnflow_spark.inference.transform import shape_integral_effects

            info = {
                (r.category, r.process): (float(r.eff_down), float(r.eff_up), bool(r.is_flat))
                for r in shape_integral_effects(shapes, par.name).collect()
            }
            cache[par.name] = info
        entry = info.get((cat_name, proc_name))
        if entry is None:
            # the shapes table lacks Up/Down templates for this column
            # (shape_integral_effects inner-joins them away): fall back to
            # a flat no-op effect, mirroring the reference's
            # fallback_key='nominal' behavior instead of a bare KeyError
            entry = (1.0, 1.0, True)
        eff_d, eff_u, flat = entry
        shape_effect, shape_is_flat = (eff_d, eff_u), flat

    from columnflow_spark.inference.transform import transform_rate_effect

    effect, became_shape = transform_rate_effect(
        par.effect, trafos, shape_effect=shape_effect, shape_is_flat=shape_is_flat
    )
    if became_shape:
        return "shape", "1"
    return par.combine_type, Parameter(par.name, par.type, effect).effect_str()


def _collect_rates(rates) -> dict[tuple[str, str], float]:
    """Accept a DataFrame[(category, process, sum_w)] or a mapping
    {(category, process): rate}."""
    if isinstance(rates, Mapping):
        return dict(rates)
    return {(r["category"], r["process"]): float(r["sum_w"]) for r in rates.collect()}


def export_shapes(hists, path: str) -> str:
    """Write the per-(category, process, shift) histogram table as the
    datacard's shapes store (reference DatacardWriter writes ROOT
    templates via uproot, inference/cms/datacard.py:243; ROOT IO is out of
    scope here — SURVEY §2.1 — so the store is a parquet directory
    partitioned by category, with the combine naming contract
    ``$CHANNEL/$PROCESS`` / ``$CHANNEL/$PROCESS_$SYSTEMATIC(Up|Down)``
    realized as the (category, process, shift) columns).

    Rebuilt on every call through ``sinks.replace_store`` (staged, then
    swapped in with one rename) over ``write_events``, whose
    ``REBALANCE`` by the partition column keeps the layout to a few files
    per category (guide §6)."""
    return replace_store(path, lambda p: write_events(hists, p, partition_by=["category"]))


def render_datacard(
    model: InferenceModel,
    rates,
    *,
    observations: Mapping[str, float] | None = None,
    rate_precision: int = 4,
    shapes_file: str | None = None,
    shapes=None,
) -> str:
    """Serialize *model* + *rates* into datacard text.  With
    *shapes_file*, a combine-style ``shapes`` header line is emitted
    pointing at the exported store (see :func:`export_shapes`).  *shapes*
    is the long-format hist table backing ``effect_from_shape(_if_flat)``
    parameter transformations (only required when a parameter uses
    them)."""
    rate_map = _collect_rates(rates)
    observations = dict(observations or {})

    # process ids: signals <= 0 (descending), backgrounds >= 1, per category
    columns: list[tuple[str, str, int, float]] = []  # (cat, proc, id, rate)
    for cat in model.categories:
        sig_id, bkg_id = 0, 1
        for proc in cat.processes:
            if proc.is_signal:
                pid, sig_id = sig_id, sig_id - 1
            else:
                pid, bkg_id = bkg_id, bkg_id + 1
            rate = rate_map.get((cat.name, proc.name), 0.0) * proc.scale
            columns.append((cat.name, proc.name, pid, rate))

    obs_lines = []
    for cat in model.categories:
        if cat.name in observations:
            obs = observations[cat.name]
        elif cat.data_from_processes:
            obs = round(
                sum(
                    r for (c, p, _i, r) in columns
                    if c == cat.name and p in cat.data_from_processes
                )
            )
        else:
            obs = -1  # combine convention: unknown/asimov handled downstream
        obs_lines.append(obs)

    param_names = model.parameter_names
    sep = "-" * 80

    def fmt(v) -> str:
        return f"{v}"

    lines = [
        f"# datacard: {model.name}",
        f"imax {len(model.categories)}",
        f"jmax {max(0, max((sum(1 for c2, *_ in columns if c2 == c.name) for c in model.categories), default=1) - 1)}",
        f"kmax {len(param_names)}",
        sep,
    ]
    if shapes_file is not None:
        lines.append(f"shapes * * {shapes_file} $CHANNEL/$PROCESS $CHANNEL/$PROCESS_$SYSTEMATIC")
        lines.append(sep)
    lines += [
        "bin          " + "  ".join(c.name for c in model.categories),
        "observation  " + "  ".join(fmt(o) for o in obs_lines),
        sep,
        "bin      " + "  ".join(c for c, *_ in columns),
        "process  " + "  ".join(p for _c, p, *_ in columns),
        "process  " + "  ".join(str(i) for _c, _p, i, _r in columns),
        "rate     " + "  ".join(f"{round(r, rate_precision)}" for *_x, r in columns),
        sep,
    ]
    shape_info_cache: dict = {}
    for pname in param_names:
        effects: list[str] = []
        types: set[str] = set()
        for cat_name, proc_name, _pid, _rate in columns:
            par = next(
                (
                    par
                    for par in model.get_category(cat_name).get_process(proc_name).parameters
                    if par.name == pname
                ),
                None,
            )
            if par is None:
                effects.append("-")
            else:
                tname, estr = _effective_effect(
                    par, cat_name, proc_name, shapes, shape_info_cache
                )
                types.add(tname)
                effects.append(estr)
        if len(types) == 1:
            ptype = types.pop()
        elif types == {"lnN", "shape"}:
            # combine's mixed-type marker: it decides per column
            # (reference datacard.py:469-471)
            ptype = "shape?"
        elif not types:
            ptype = "lnN"
        else:
            # any other mix (e.g. lnU + shape) has no combine rendering —
            # fail loudly like the reference's misconfiguration check
            # instead of emitting an invalid '/'-joined type string
            raise ValueError(
                f"parameter '{pname}' mixes incompatible types {sorted(types)}; "
                "only a single type or lnN+shape (rendered 'shape?') is valid"
            )
        lines.append(f"{pname}  {ptype}  " + "  ".join(effects))
    return "\n".join(lines) + "\n"


def write_datacard(model: InferenceModel, rates, path: str, **kwargs) -> str:
    text = render_datacard(model, rates, **kwargs)
    with open(path, "w") as fh:
        fh.write(text)
    return text
