"""The benchmark's workloads, by name."""

from perfbench.workloads.etl_ticks import EtlTicks
from perfbench.workloads.index_service import IndexService
from perfbench.workloads.report_reads import ReportReads

WORKLOADS = {w.name: w for w in (EtlTicks, ReportReads, IndexService)}
