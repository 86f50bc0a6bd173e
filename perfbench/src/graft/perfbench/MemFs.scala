package graft.perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import java.io.{ByteArrayOutputStream, EOFException, FileNotFoundException, IOException, InputStream}
import java.net.URI

/**
 * A Hadoop file system held in the JVM's memory, scheme `pbmem`, for
 * the serving index of `index_serve`. Registered through
 * `spark.hadoop.fs.pbmem.impl`; the program resolves it from the index
 * path like any other store.
 *
 * Why: every put writes, renames and deletes files, and on a disk that
 * discards freed blocks each deletion waits on the device. A neighbour's
 * disk traffic then doubled a put's wall (0.9 s to 1.6 s at a 20k-doc
 * index) while CPU-bound work did not move, so the workload measured the
 * host's disk. Here the index's files cost only the program's own work;
 * their number and size are still counted (`ckpt.*`).
 *
 * Semantics follow the Hadoop file system specification for what the
 * program and Spark's commit protocol use: create is visible at once and
 * `overwrite = false` fails on an existing path; rename moves a file or
 * a whole directory, into a directory when the target is one, and fails
 * on an existing file; delete of a non-empty directory needs
 * `recursive`. A file's bytes never change after close (a rewrite
 * replaces the node), so a copy shares them.
 */
final class MemFs extends FileSystem {
  import MemFs._

  private val uri: URI = URI.create(Scheme + ":///")
  private var wd: Path = new Path("/")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
  }

  override def getScheme: String = Scheme
  override def getUri: URI = uri
  override def getWorkingDirectory: Path = wd
  override def setWorkingDirectory(dir: Path): Unit = wd = new Path(key(dir))

  private def key(p: Path): String = {
    val s = (if (p.isAbsolute) p else new Path(wd, p)).toUri.getPath
    if (s.isEmpty || s == "/") "/" else s.stripSuffix("/")
  }

  private def status(k: String, n: Node): FileStatus = n match {
    case f: File => new FileStatus(f.data.length, false, 1, BlockSize, f.mtime,
      makeQualified(new Path(k)))
    case d: Dir => new FileStatus(0, true, 1, 0, d.mtime, makeQualified(new Path(k)))
  }

  override def getFileStatus(p: Path): FileStatus = lock.synchronized {
    val k = key(p)
    Option(nodes.get(k)).map(status(k, _))
      .getOrElse(throw new FileNotFoundException(s"$Scheme: no such path $k"))
  }

  override def listStatus(p: Path): Array[FileStatus] = lock.synchronized {
    val k = key(p)
    nodes.get(k) match {
      case null => throw new FileNotFoundException(s"$Scheme: no such path $k")
      case f: File => Array(status(k, f))
      case _: Dir =>
        children(k).map(c => status(c, nodes.get(c))).toArray
    }
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = lock.synchronized {
    mkdirsKey(key(p))
  }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val k = key(p)
    lock.synchronized {
      nodes.get(k) match {
        case _: Dir => throw new FileAlreadyExistsException(s"$Scheme: $k is a directory")
        case _: File if !overwrite => throw new FileAlreadyExistsException(s"$Scheme: $k exists")
        case _ =>
      }
      if (!mkdirsKey(parentOf(k))) throw new IOException(s"$Scheme: parent of $k is a file")
      nodes.put(k, new File(Empty))
    }
    val buf = new ByteArrayOutputStream() {
      private var closed = false
      override def close(): Unit = lock.synchronized {
        if (!closed) { closed = true; nodes.put(k, new File(toByteArray)) }
      }
    }
    new FSDataOutputStream(buf, statistics)
  }

  override def append(p: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new IOException(s"$Scheme: append is not supported")

  override def open(p: Path, bufferSize: Int): FSDataInputStream = lock.synchronized {
    val k = key(p)
    nodes.get(k) match {
      case f: File => new FSDataInputStream(new In(f.data))
      case null => throw new FileNotFoundException(s"$Scheme: no such path $k")
      case _ => throw new FileNotFoundException(s"$Scheme: $k is a directory")
    }
  }

  override def rename(src: Path, dst: Path): Boolean = lock.synchronized {
    val s = key(src)
    val d0 = key(dst)
    // into an existing directory, as the specification says
    val d = if (nodes.get(d0).isInstanceOf[Dir] && s != d0)
      (if (d0 == "/") "" else d0) + "/" + new Path(s).getName
    else d0
    if (s == "/" || !nodes.containsKey(s)) false
    else if (s == d) nodes.get(s).isInstanceOf[File]
    else if (nodes.containsKey(d) || d.startsWith(s + "/") || !mkdirsKey(parentOf(d))) false
    else {
      val moved = (s +: subtree(s)).map(k => k -> nodes.remove(k))
      moved.foreach { case (k, n) => nodes.put(d + k.substring(s.length), n) }
      true
    }
  }

  override def delete(p: Path, recursive: Boolean): Boolean = lock.synchronized {
    val k = key(p)
    nodes.get(k) match {
      case null => false
      case _: File => nodes.remove(k); true
      case _: Dir =>
        val under = subtree(k)
        if (under.nonEmpty && !recursive)
          throw new IOException(s"$Scheme: directory $k is not empty")
        under.foreach(nodes.remove)
        if (k != "/") nodes.remove(k)
        true
    }
  }

  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = lock.synchronized {
    nodes.get(key(p)) match {
      case null => throw new FileNotFoundException(s"$Scheme: no such path ${key(p)}")
      case n if mtime >= 0 => n.mtime = mtime
      case _ =>
    }
  }
}

object MemFs {
  val Scheme = "pbmem"
  private val BlockSize = 32L << 20
  private val Empty = new Array[Byte](0)

  private sealed abstract class Node { var mtime: Long = System.currentTimeMillis() }
  private final class File(val data: Array[Byte]) extends Node
  private final class Dir extends Node

  // Path (no scheme) -> node. Sorted, so a directory's subtree is the
  // key range ["<dir>/", "<dir>0"): '0' follows '/'.
  private val nodes = new java.util.TreeMap[String, Node]()
  private val lock = new Object
  nodes.put("/", new Dir)

  private def subtree(k: String): Seq[String] = {
    val prefix = if (k == "/") "/" else k + "/"
    val hi = prefix.dropRight(1) + "0"
    val it = nodes.subMap(prefix, true, hi, false).keySet.iterator
    val out = Seq.newBuilder[String]
    while (it.hasNext) { val c = it.next(); if (c != "/") out += c }
    out.result()
  }

  private def children(k: String): Seq[String] = {
    val depth = if (k == "/") 1 else k.count(_ == '/') + 1
    subtree(k).filter(_.count(_ == '/') == depth)
  }

  private def parentOf(k: String): String = {
    val i = k.lastIndexOf('/')
    if (i <= 0) "/" else k.substring(0, i)
  }

  /** Creates `k` and its missing ancestors as directories; false if one
    * of them is a file. */
  private def mkdirsKey(k: String): Boolean = {
    val parts = k.split('/').filter(_.nonEmpty)
    val dirs = parts.indices.map(i => parts.take(i + 1).mkString("/", "/", ""))
    val ok = dirs.forall(d => !nodes.get(d).isInstanceOf[File])
    if (ok) dirs.foreach(d => if (!nodes.containsKey(d)) nodes.put(d, new Dir))
    ok
  }

  /** A `pbmem` path string for `p`, an absolute path inside this file
    * system. */
  def path(p: String): String = s"$Scheme://$p"

  /** Copies the tree at `src` to `dst` (which must not exist); the copy
    * shares the files' bytes. */
  def copyTree(src: String, dst: String): Unit = lock.synchronized {
    require(!nodes.containsKey(dst), s"$dst exists")
    (src +: subtree(src)).foreach { k =>
      nodes.put(dst + k.substring(src.length), nodes.get(k) match {
        case f: File => new File(f.data)
        case _ => new Dir
      })
    }
  }

  /** (files, bytes) under `root`. */
  def countFiles(root: String): (Long, Long) = lock.synchronized {
    var n = 0L; var bytes = 0L
    subtree(root).foreach(k => nodes.get(k) match {
      case f: File => n += 1; bytes += f.data.length
      case _ =>
    })
    (n, bytes)
  }

  def deleteTree(root: String): Unit = lock.synchronized {
    subtree(root).foreach(nodes.remove)
    nodes.remove(root)
  }

  private final class In(data: Array[Byte]) extends InputStream
    with Seekable with PositionedReadable {
    private var pos = 0

    override def read(): Int =
      if (pos >= data.length) -1 else { pos += 1; data(pos - 1) & 0xff }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = read(pos.toLong, b, off, len)
      if (n > 0) pos += n
      n
    }

    override def available(): Int = data.length - pos
    override def seek(p: Long): Unit = {
      if (p < 0 || p > data.length) throw new EOFException(s"seek to $p of ${data.length}")
      pos = p.toInt
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
      if (position >= data.length) return if (len == 0) 0 else -1
      val n = math.min(len.toLong, data.length - position).toInt
      System.arraycopy(data, position.toInt, b, off, n)
      n
    }

    override def readFully(position: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      if (position < 0 || position + len > data.length)
        throw new EOFException(s"read of $len at $position past ${data.length}")
      System.arraycopy(data, position.toInt, b, off, len)
    }

    override def readFully(position: Long, b: Array[Byte]): Unit =
      readFully(position, b, 0, b.length)
  }
}
