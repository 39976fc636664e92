"""The benchmark's workloads, by name."""

from perfbench.workloads.anonymise import AnonymiseRelease
from perfbench.workloads.dml_curate import DmlCurate

WORKLOADS = {
    "anonymise_release": AnonymiseRelease,
    "dml_curate": DmlCurate,
}
