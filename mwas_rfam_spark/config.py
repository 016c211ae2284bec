"""Engine configuration — the reference's CLI flags as a typed config object.

Mirrors the globals parsed at reference main/mwas_general.py:81-94,717-741:
IMPLICIT_ZEROS, GROUP_NONZEROS_ACCEPTANCE_THRESHOLD, ALREADY_NORMALIZED,
P_VALUE_THRESHOLD, ONLY_T_TEST, combine_outputs, MAP_UNKNOWN,
NORMALIZING_CONST, and the permutation-test resample count
(main/mwas_general.py:416).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class MwasConfig:
    # quantifier normalization (reference mg:506-518, old:255)
    already_normalized: bool = False
    normalizing_const: float = 1_000_000.0
    # unknown biosamples count as 0 quantifier (reference mg:89,472-474)
    implicit_zeros: bool = True
    # skip a group with fewer provided values than this (reference mg:483-491)
    group_nonzeros_threshold: int = 3
    # statistics (reference mg:404-426)
    p_value_threshold: float = 0.005
    t_test_only: bool = False
    permutation_resamples: int = 10_000
    min_cohort_for_permutation: int = 4  # min(n_t, n_f) < 4 → t-test (mg:407)
    min_cohort_size: int = 2  # num_true/num_false < 2 → skip row (mg:376-378)
    # deterministic permutation tests (extension: reference is unseeded)
    permutation_seed: int = 42
    # output shaping (reference mg:428-432)
    max_listed_biosamples: int = 1000
    skip_tests: bool = False
    # sentinel replacement: catalog spots == 0 → 1e6 (reference mg:180)
    zero_spots_replacement: float = 1_000_000.0
    # legacy-generation output parity (old/mwas_rfam.py:100-111,369-370):
    # numeric ±inf fold change instead of sentinel strings, output sorted
    # by p-value instead of the main generation's unsorted emit
    legacy_output: bool = False
    # legacy 13-COLUMN schema (old/mwas_rfam.py:11-12 MWAS_COLS,
    # :169-170 output_cols): (bioproject_id, family, metadata_field,
    # metadata_value, num_true, num_false, mean_rpm_true, mean_rpm_false,
    # sd_rpm_true, sd_rpm_false, fold_change, test_statistic, p_value) —
    # no status/telemetry/biosample-list columns. Implies the legacy
    # numerics and p-sort of `legacy_output`.
    legacy_13col: bool = False
    # guard on the one row-width bound inherited from the problem shape:
    # the per-(bioproject, group) pooled observed-value vector fed to the
    # permutation kernel (the reference's analog is its 50 MB metadata
    # cap, mg:259-322). None disables the check.
    max_group_observations: int | None = 5_000_000
    # bioprojects excluded from processing (reference conv:11-14, mg:77)
    blacklist: tuple[str, ...] = field(default=())
    # pin policy for multiply-consumed subplans. True (default): each pin
    # is a localCheckpoint, materialized once with its lineage cut, so a
    # deep plan is analyzed once instead of at every consumer (25-40% of
    # the relational core's wall at sf0.1, SCALE.md); the blocks die
    # with their executor. False: pins persist (MEMORY_AND_DISK) and keep
    # a recomputable lineage, for clusters where executor loss must not
    # fail the job. The HTTP handler, run_mwas_cached and
    # run_mwas_resume open a pinning.scope from this flag, so it reaches
    # every pin made inside that request, and the scope unpersists them
    # on exit; a library caller of dedup, drift, evaluation, retrieval
    # etc. gets the same policy inside a keep_lineage pinning.scope.
    # run_mwas refuses False outside such a scope. Five pins whose
    # source path is overwritten afterwards checkpoint whatever it says
    # (pinning.checkpoint).
    use_local_checkpoint: bool = True


DEFAULT_CONFIG = MwasConfig()
