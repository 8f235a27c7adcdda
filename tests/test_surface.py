"""Public-surface guard (AST only, no Spark): every public top-level
function and public method in ``prclz_spark/`` is reached by engine code
— ``prclz_spark/``, ``perfbench/`` (including the names in the tracer's
``WRAPPED`` table) or the launchers — or is listed below with the reason
it stays. A function only its own tests call is deleted with them, not
kept. The allowlist compares as a set, so a stale entry fails too.

A reference is any ``Name``, ``Attribute`` or imported name with the
function's bare name (coarse: ``store.read`` and ``spark.read`` both
count for ``TableStore.read``), so the guard catches only what no caller
could reach by any spelling."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "prclz_spark"

ALLOWED = {
    "functions.cells.cell_bounds":
        "cell id -> bounds decode; the oracle of the cell-index property tests",
    "functions.cells.uncompact_cells":
        "inverse of compact_cells; the compaction round-trip tests run it",
    "functions.geom.haversine_m":
        "great-circle metres; the oracle the geodesy tests check against",
    "functions.graphops.PlanarGraph.add_node_to_closest_edge":
        "the reference's nearest-edge insert, the oracle of the graph NN tests",
    "functions.graphops.PlanarGraph.to_node_link":
        "F28 node-link serialization of the planar graph",
    "functions.graphops.PlanarGraph.from_node_link":
        "F28 node-link deserialization of the planar graph",
    "operators.tiles.tile_membership_poly":
        "tile membership against arbitrary polygons (rect is the axis-aligned case)",
    "sources.tablestore.TableStore.metrics_df":
        "a store's per-stage metrics as a frame, for production readout",
    "pipeline.run_events_rollup":
        "bucketed production shape of the evt_block_hourly rollup",
    "operators.similarity.ivf_train":
        "data-dependent IVF codebook for ivf_topk; contract rows use fixed ones",
    "operators.similarity.pq_train":
        "data-dependent PQ codebooks through Spark; the contract uses the numpy twin",
    "sources.synth.images_df":
        "distributed synthetic images table at scale (image_rows is the small one)",
}


def _public_defs() -> dict[str, str]:
    """Dotted qualified name (module path under prclz_spark) -> bare name."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                out[f"{mod}.{node.name}"] = node.name
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("_"):
                        out[f"{mod}.{node.name}.{m.name}"] = m.name
    return out


def _referenced_names() -> set[str]:
    files = (
        sorted(PKG.rglob("*.py"))
        + sorted((ROOT / "perfbench").rglob("*.py"))
        + [ROOT / "run_pipeline.py", ROOT / "__spark_entry__.py"]
    )
    names: set[str] = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "WRAPPED" for t in node.targets
            ):
                # the tracer wraps these by string ("TableStore.commit")
                for c in ast.walk(node.value):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        names.update(c.value.split("."))
    return names


def test_every_public_function_has_a_caller_or_a_reason():
    refs = _referenced_names()
    unreached = {q for q, name in _public_defs().items() if name not in refs}
    assert unreached == set(ALLOWED), (
        f"unreached, not allowlisted: {sorted(unreached - set(ALLOWED))}; "
        f"allowlisted, but reached or gone: {sorted(set(ALLOWED) - unreached)}"
    )
