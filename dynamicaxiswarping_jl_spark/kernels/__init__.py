"""Pure-NumPy DTW-family kernels (no Spark dependency).

These reproduce the numerical semantics of the reference library
(baggepinnen/DynamicAxisWarping.jl); each function's docstring cites the
reference file:line it matches. All kernels are vectorized NumPy — inside
Spark they run within pandas/Arrow UDFs (no per-row Python in hot paths).
"""

from .distances import (SqEuclidean, Euclidean, Cityblock, Chebyshev,
                        CustomDist, get_dist)
from .dtw import (
    dtw,
    dtw_cost_matrix,
    banded_dtw_cost_matrix,
    trackback,
    dtw_cost,
    radiuslimits,
)
from .softdtw import (softmin, soft_dtw_cost_matrix, soft_dtw_cost,
                      soft_dtw_cost_exact)
from .normalizers import (znorm, diagonal_znorm, norm_normalize,
                          sliding_znorm_stats, lower_upper_envs)
from .dtwnn import (dtwnn, DTWSearchResult, sparse_distmat, knn_kbest,
                    distance_profile, matrix_profile)
from .dba import dba, dba_iteration, DBAResult
from .dbaclust import dbaclust, dbaclust_initial_centers, DBAClustResult
from .fastdtw import fastdtw, compress2, expandpath, computewindow
from .interp import linear_interp_fill
from .align import align_signals
from .filters import gaussian, gaussian2, imfilter
from .datasets import fakedata_gaussian
from .gdtw import (gdtw, LinearInterpolation, prepare_gdtw,
                   iterative_gdtw, gdtw_warpings)
from .dtw import dtw_cost_batch
from .evaluate import dtw_dist, DTW, SoftDTW, FastDTW, GDTW

__all__ = [
    "SqEuclidean", "Euclidean", "Cityblock", "Chebyshev", "CustomDist",
    "get_dist",
    "dtw", "dtw_cost_matrix", "banded_dtw_cost_matrix", "trackback",
    "dtw_cost", "radiuslimits",
    "softmin", "soft_dtw_cost_matrix", "soft_dtw_cost",
    "soft_dtw_cost_exact",
    "znorm", "diagonal_znorm", "norm_normalize",
    "sliding_znorm_stats", "lower_upper_envs",
    "dtwnn", "DTWSearchResult", "sparse_distmat", "knn_kbest",
    "distance_profile",
    "matrix_profile",
    "dba", "dba_iteration", "DBAResult",
    "dbaclust", "dbaclust_initial_centers", "DBAClustResult",
    "fastdtw", "compress2", "expandpath", "computewindow",
    "linear_interp_fill", "align_signals",
    "gaussian", "gaussian2", "imfilter",
    "fakedata_gaussian",
    "gdtw", "prepare_gdtw", "iterative_gdtw", "gdtw_warpings",
    "LinearInterpolation", "dtw_cost_batch",
    "dtw_dist",
    "DTW", "SoftDTW", "FastDTW", "GDTW",
]
