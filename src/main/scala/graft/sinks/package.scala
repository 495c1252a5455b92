package graft

package object sinks {
  /** The in-process sink's older name, kept for code written against it. */
  val InProcessHostedSink: HostedStore.type = HostedStore
}
