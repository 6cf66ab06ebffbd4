"""Stateful per-window feature-weight kernels (pure NumPy).

Each kernel implements the published online feature-selection algorithm the
reference harness dispatches per window (reference contract:
``fs_algorithm(X, Y, w, param) -> (w, param)``, see
/root/reference/pystreamfs/pystreamfs.py:68). Kernels here are written from
scratch against the papers + the reference's observable semantics; they carry
explicit, picklable state objects instead of a mutable ``param`` dict and are
executed inside the Arrow fold scan (pystreamfs_spark.fold).
"""

from pystreamfs_spark.kernels.ofs import OFSState, ofs_update
from pystreamfs_spark.kernels.fsds import FSDSState, fsds_update
from pystreamfs_spark.kernels.efs import EFSState, efs_update
from pystreamfs_spark.kernels.base import KERNELS, init_state, select_top_m, update

__all__ = [
    "OFSState",
    "FSDSState",
    "EFSState",
    "ofs_update",
    "fsds_update",
    "efs_update",
    "KERNELS",
    "init_state",
    "update",
    "select_top_m",
]
