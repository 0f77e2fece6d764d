"""Prepared-geometry veneer (reference: shapely/prepared.py:8,72).

The reference's PreparedGeometry wraps a geometry whose GEOS prepared
state was built by ``shapely.prepare``; in this engine preparation is the
RaggedPolygonLayer a point join builds over its regions (geo/kernels.py),
so the wrapper only needs to bind the predicate kernels to a fixed left geometry. Same
method surface, same ``context``/``prepared`` attributes, same
unpicklable contract.
"""

from __future__ import annotations

from pickle import PicklingError

from . import kernels as _k
from .geom import Geometry
from .kernels import prepare as _prepare

__all__ = ["PreparedGeometry", "prep"]


class PreparedGeometry:
    """reference: shapely/prepared.py:8 — binds the DE-9IM predicate
    kernels to one geometry for repeated comparisons."""

    def __init__(self, context):
        if isinstance(context, PreparedGeometry):
            context = context.context
        else:
            _prepare(context)
        self.context: Geometry = context
        self.prepared = True

    def contains(self, other):
        return _k.contains(self.context, other)

    def contains_properly(self, other):
        return _k.contains_properly(self.context, other)

    def covers(self, other):
        return _k.covers(self.context, other)

    def crosses(self, other):
        return _k.crosses(self.context, other)

    def disjoint(self, other):
        return _k.disjoint(self.context, other)

    def intersects(self, other):
        return _k.intersects(self.context, other)

    def overlaps(self, other):
        return _k.overlaps(self.context, other)

    def touches(self, other):
        return _k.touches(self.context, other)

    def within(self, other):
        return _k.within(self.context, other)

    def __reduce__(self):
        raise PicklingError("Prepared geometries cannot be pickled.")


def prep(ob):
    """reference: shapely/prepared.py:72."""
    return PreparedGeometry(ob)
